import java.nio.file.Path;
import java.util.*;
import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordingFile;

/**
 * Top inclusive frames of a JFR recording's execution samples, per thread
 * group: Spark's executor task threads and the streaming query's thread.
 * A frame's share is the fraction of the group's samples whose stack holds
 * it at least once. With a regex, only the frames it finds are listed.
 *
 * Usage: java scripts/JfrTop.java <recording.jfr> [top] [regex]
 */
public class JfrTop {
  public static void main(String[] args) throws Exception {
    int top = args.length > 1 ? Integer.parseInt(args[1]) : 30;
    java.util.regex.Pattern only = java.util.regex.Pattern.compile(args.length > 2 ? args[2] : "");
    Map<String, Map<String, Integer>> frames = new TreeMap<>();
    Map<String, Integer> samples = new TreeMap<>();
    try (RecordingFile rec = new RecordingFile(Path.of(args[0]))) {
      while (rec.hasMoreEvents()) {
        RecordedEvent e = rec.readEvent();
        if (!e.getEventType().getName().equals("jdk.ExecutionSample") || e.getStackTrace() == null) continue;
        String thread = e.getThread("sampledThread").getJavaName();
        String group = thread == null ? null
            : thread.startsWith("Executor task launch worker") ? "executor threads"
            : thread.startsWith("stream execution thread") ? "stream execution thread" : null;
        if (group == null) continue;
        samples.merge(group, 1, Integer::sum);
        Set<String> seen = new HashSet<>();
        for (RecordedFrame f : e.getStackTrace().getFrames()) {
          String name = f.getMethod().getType().getName() + "." + f.getMethod().getName();
          if (seen.add(name)) frames.computeIfAbsent(group, g -> new HashMap<>()).merge(name, 1, Integer::sum);
        }
      }
    }
    for (String group : samples.keySet()) {
      int n = samples.get(group);
      System.out.printf("%n== %s: %d samples, top %d inclusive frames%n", group, n, top);
      frames.get(group).entrySet().stream()
          .filter(x -> only.matcher(x.getKey()).find())
          .sorted(Map.Entry.<String, Integer>comparingByValue().reversed()).limit(top)
          .forEach(x -> System.out.printf("%6.1f %%  %7d  %s%n", 100.0 * x.getValue() / n, x.getValue(), x.getKey()));
    }
  }
}
