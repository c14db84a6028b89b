import java.io.IOException;
import java.lang.management.ManagementFactory;
import java.lang.management.ThreadMXBean;
import java.security.MessageDigest;
import java.util.Arrays;
import java.util.HashMap;
import java.util.Random;

/**
 * Host-speed probe for perfbench.  Runs a fixed round of Java work --
 * hash-map inserts of fresh strings, a sort of random longs, chained
 * SHA-256 digests -- then sleeps INTERVAL_MS, over and over, and prints
 * one line per round: the wall-clock time it ended (ms since the epoch)
 * and the CPU nanoseconds the round took on the main thread's clock.
 * Exits when its standard input is closed.
 *
 *     java Calibrate.java INTERVAL_MS
 */
public class Calibrate {
    static long sink;

    static long round(Random r) throws Exception {
        HashMap<String, Long> m = new HashMap<>();
        for (int i = 0; i < 40_000; i++) {
            m.merge(Long.toHexString(r.nextLong() & 0xFFFFF), 1L, Long::sum);
        }
        long[] a = new long[100_000];
        for (int i = 0; i < a.length; i++) {
            a[i] = r.nextLong();
        }
        Arrays.sort(a);
        MessageDigest md = MessageDigest.getInstance("SHA-256");
        byte[] b = new byte[64];
        for (int i = 0; i < 10_000; i++) {
            r.nextBytes(b);
            b = Arrays.copyOf(md.digest(b), 64);
        }
        return m.size() + a[a.length / 2] + b[0];
    }

    public static void main(String[] args) throws Exception {
        long intervalMs = Long.parseLong(args[0]);
        Thread watcher = new Thread(() -> {
            try {
                while (System.in.read() != -1) {
                }
            } catch (IOException e) {
                // the parent is gone either way
            }
            System.exit(0);
        });
        watcher.setDaemon(true);
        watcher.start();
        ThreadMXBean threads = ManagementFactory.getThreadMXBean();
        Random r = new Random(0);
        while (true) {
            long t = threads.getCurrentThreadCpuTime();
            sink += round(r);
            long ns = threads.getCurrentThreadCpuTime() - t;
            System.out.println(System.currentTimeMillis() + " " + ns);
            System.out.flush();
            Thread.sleep(intervalMs);
        }
    }
}
