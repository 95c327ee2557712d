package perfbench;

import jdk.incubator.vector.FloatVector;
import jdk.incubator.vector.VectorSpecies;

/** Ceilings measured in the benchmark's own JVM: the float FMA peak and a
 *  STREAM-style copy bandwidth, each on a given number of threads. */
public final class Peak {
    private static final VectorSpecies<Float> S = FloatVector.SPECIES_PREFERRED;

    private Peak() {}

    static volatile float sink;

    /** Eight independent FMA chains in registers; returns a value so the
     *  work cannot be dropped. */
    static float fmaChains(long iters) {
        FloatVector b = FloatVector.broadcast(S, 0.999999f);
        FloatVector c = FloatVector.broadcast(S, 1e-7f);
        FloatVector a0 = FloatVector.broadcast(S, 1f), a1 = a0, a2 = a0, a3 = a0;
        FloatVector a4 = a0, a5 = a0, a6 = a0, a7 = a0;
        for (long i = 0; i < iters; i++) {
            a0 = a0.fma(b, c); a1 = a1.fma(b, c); a2 = a2.fma(b, c); a3 = a3.fma(b, c);
            a4 = a4.fma(b, c); a5 = a5.fma(b, c); a6 = a6.fma(b, c); a7 = a7.fma(b, c);
        }
        return a0.add(a1).add(a2).add(a3).add(a4).add(a5).add(a6).add(a7).reduceLanes(
            jdk.incubator.vector.VectorOperators.ADD);
    }

    /** GFLOP/s of fused multiply-adds (2 flops each) on {@code threads}
     *  threads, best of three runs of {@code iters} iterations per thread. */
    public static double fmaGflops(int threads, long iters) throws InterruptedException {
        fmaChains(iters / 4); // warm-up and JIT
        double best = 0;
        for (int rep = 0; rep < 3; rep++) {
            double s = onThreads(threads, () -> sink = fmaChains(iters));
            best = Math.max(best, threads * (double) iters * 8 * S.length() * 2 / s / 1e9);
        }
        return best;
    }

    /** Copy bandwidth in GB/s (bytes read plus written) of
     *  {@code System.arraycopy} over {@code mb} MB per thread. */
    public static double copyGBs(int threads, int mb, int reps) throws InterruptedException {
        int n = mb * (1 << 20) / 4;
        float[][] src = new float[threads][n];
        float[][] dst = new float[threads][n];
        for (float[] a : src) java.util.Arrays.fill(a, 1f);
        java.util.concurrent.atomic.AtomicInteger next = new java.util.concurrent.atomic.AtomicInteger();
        Runnable copy = () -> {
            int t = next.getAndIncrement() % threads;
            for (int r = 0; r < reps; r++) System.arraycopy(src[t], 0, dst[t], 0, n);
        };
        onThreads(threads, copy);
        double best = 0;
        for (int rep = 0; rep < 3; rep++) {
            next.set(0);
            double s = onThreads(threads, copy);
            best = Math.max(best, threads * 2.0 * 4 * n * reps / s / 1e9);
        }
        return best;
    }

    /** Seconds for {@code threads} threads each running {@code body} once. */
    public static double onThreads(int threads, Runnable body) throws InterruptedException {
        Thread[] ts = new Thread[threads];
        for (int i = 0; i < threads; i++) ts[i] = new Thread(body);
        long t0 = System.nanoTime();
        for (Thread t : ts) t.start();
        for (Thread t : ts) t.join();
        return (System.nanoTime() - t0) / 1e9;
    }
}
