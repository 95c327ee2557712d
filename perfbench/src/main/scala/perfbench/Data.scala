package perfbench

import java.util.SplittableRandom

/** A generated table of records. Row `i` has id `ids(i)`, the raw vector
  * `vecs(i)` and the metadata bucket `bucket(i)` in [0, 100), which the
  * benchmark's `where` filters select on.
  */
final class Table(val ids: Array[String], val vecs: Array[Array[Float]],
                  val bucket: Array[Int]) {
  def size: Int = ids.length
  def dim: Int = if (vecs.isEmpty) 0 else vecs(0).length
  def meta(i: Int): String = Data.meta(bucket(i), i)
}

/** Seeded input generation. The same seed always gives the same inputs;
  * every stream derives from the seed through `SplittableRandom.split`, so
  * adding a stream does not shift the others.
  */
object Data {
  def meta(bucket: Int, serial: Int): String = s"""{"b":$bucket,"n":$serial}"""

  def uniformVec(r: SplittableRandom, dim: Int): Array[Float] =
    Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)

  /** Unit-norm Gaussian centres for a mixture. */
  def centres(r: SplittableRandom, n: Int, dim: Int): Array[Array[Float]] =
    Array.fill(n) {
      val c = Array.fill(dim)(r.nextGaussian())
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(x => (x / norm).toFloat)
    }

  /** A centre plus isotropic noise of total norm about `spread`. */
  def nearVec(r: SplittableRandom, centre: Array[Float], spread: Double): Array[Float] = {
    val s = spread / math.sqrt(centre.length)
    Array.tabulate(centre.length)(d => (centre(d) + s * r.nextGaussian()).toFloat)
  }

  def uniformTable(seed: Long, n: Int, dim: Int): Table = {
    val r = new SplittableRandom(seed)
    val vr = r.split(); val br = r.split()
    new Table(Array.tabulate(n)(i => s"d$i"), Array.fill(n)(uniformVec(vr, dim)),
      Array.fill(n)(br.nextInt(100)))
  }

  val Spread = 0.6

  def clusteredTable(seed: Long, n: Int, dim: Int, cs: Array[Array[Float]]): Table = {
    val r = new SplittableRandom(seed)
    val vr = r.split(); val br = r.split()
    new Table(Array.tabulate(n)(i => s"d$i"),
      Array.fill(n)(nearVec(vr, cs(vr.nextInt(cs.length)), Spread)),
      Array.fill(n)(br.nextInt(100)))
  }

  /** Uniform query vectors. */
  def queries(seed: Long, n: Int, dim: Int): Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    Array.fill(n)(uniformVec(r, dim))
  }
}
