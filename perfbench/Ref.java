import java.util.HashMap;

/**
 * A fixed piece of JVM work for measuring how fast the host's cores are
 * running: boxing, string building, hashing and garbage collection, the
 * kinds of work a Spark driver does. Run with the single-file source
 * launcher ({@code java Ref.java}), so the in-memory compile is part of
 * the fixed work too. Prints a checksum that never changes.
 */
public class Ref {
    public static void main(String[] args) {
        long sum = 0;
        HashMap<Integer, String> map = new HashMap<>();
        for (int round = 0; round < 30; round++) {
            map.clear();
            for (int i = 0; i < 200_000; i++) {
                map.put(i, Integer.toString(i * 31 + round));
            }
            for (String v : map.values()) {
                sum += v.hashCode();
            }
        }
        System.out.println(sum);
    }
}
