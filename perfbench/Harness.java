import com.fasterxml.jackson.databind.ObjectMapper;
import com.fasterxml.jackson.databind.SerializationFeature;
import graft.GraftSession;
import graft.InternalCaches;
import graft.SparkEntry;
import org.apache.spark.SparkContext;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerStageSubmitted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.storage.RDDInfo;
import scala.Function2;

import java.io.File;
import java.lang.management.ManagementFactory;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Properties;
import java.util.Random;
import java.util.concurrent.ConcurrentHashMap;
import java.util.concurrent.ConcurrentLinkedQueue;

import static org.apache.spark.sql.functions.col;
import static org.apache.spark.sql.functions.count;
import static org.apache.spark.sql.functions.lit;
import static org.apache.spark.sql.functions.sum;
import static org.apache.spark.sql.functions.xxhash64;

/**
 * In-JVM side of the benchmark: one fresh JVM per run, one client, closed
 * loop. It calls only the program's public entry points and times them
 * from outside: GraftSession.build + warmup (set-up), then for every query
 * SparkEntry.queries(name)(spark, sf) (build), planning the fingerprint
 * action (plan), running it (execute) and InternalCaches.releaseAll plus
 * the catalog cache clear (release). Pass 0 is the cold pass; the given
 * number of warm passes follows, each in its own seeded query order.
 *
 * The timed action is a row count plus an order-independent sum of
 * xxhash64 over all output columns, so no output column can be pruned.
 *
 * With trace=1 a SparkListener owned by the benchmark tags every job and
 * stage with the span that was active when it was submitted (a thread-local
 * Spark property), and warm passes alternate between listener on and
 * listener off so the record carries its own tracing overhead.
 *
 * Usage: Harness <sfDir> <cpus> <seed> <warmPasses> <trace 0|1>
 *                <out.json> <query,query,...>
 */
public final class Harness {
  private static final String SPAN_PROP = "perfbench.span";
  /** Subdirectory of the temp root that SPARK_LOCAL_DIRS points at. */
  private static final String SPARK_LOCAL = "spark-local";

  /** One timed interval: session, query or a phase inside a query. */
  static final class Span {
    final int id, parent;
    final String name, query;
    final int pass;
    long startMs, endMs, startNs, endNs;

    Span(int id, int parent, String name, String query, int pass) {
      this.id = id; this.parent = parent; this.name = name;
      this.query = query; this.pass = pass;
    }

    Map<String, Object> toMap() {
      Map<String, Object> m = new LinkedHashMap<>();
      m.put("id", id); m.put("parent", parent); m.put("name", name);
      m.put("query", query); m.put("pass", pass);
      m.put("start_ms", startMs); m.put("end_ms", endMs);
      m.put("dur_s", (endNs - startNs) / 1e9);
      return m;
    }
  }

  /** Listener owned by the benchmark: jobs and completed stages, keyed
    * by the span property their submitting thread carried. */
  static final class Recorder extends SparkListener {
    final ConcurrentLinkedQueue<Map<String, Object>> jobs =
        new ConcurrentLinkedQueue<>();
    final ConcurrentLinkedQueue<Map<String, Object>> stages =
        new ConcurrentLinkedQueue<>();
    final Map<String, String> stageSpan = new ConcurrentHashMap<>();
    final Map<String, long[]> stageTasks = new ConcurrentHashMap<>();

    private static String key(int stage, int attempt) {
      return stage + "." + attempt;
    }

    private static String span(Properties p) {
      return p == null ? "" : p.getProperty(SPAN_PROP, "");
    }

    @Override public void onJobStart(SparkListenerJobStart e) {
      Map<String, Object> m = new LinkedHashMap<>();
      m.put("job", e.jobId());
      m.put("time_ms", e.time());
      m.put("span", span(e.properties()));
      jobs.add(m);
    }

    @Override public void onStageSubmitted(SparkListenerStageSubmitted e) {
      StageInfo i = e.stageInfo();
      stageSpan.put(key(i.stageId(), i.attemptNumber()), span(e.properties()));
    }

    @Override public void onTaskEnd(SparkListenerTaskEnd e) {
      long[] c = stageTasks.computeIfAbsent(
          key(e.stageId(), e.stageAttemptId()), k -> new long[2]);
      synchronized (c) {
        c[0]++;
        if (!e.taskInfo().successful()) c[1]++;
      }
    }

    @Override public void onStageCompleted(SparkListenerStageCompleted e) {
      StageInfo i = e.stageInfo();
      String k = key(i.stageId(), i.attemptNumber());
      TaskMetrics t = i.taskMetrics();
      long[] c = stageTasks.getOrDefault(k, new long[2]);
      Map<String, Object> m = new LinkedHashMap<>();
      m.put("stage", i.stageId());
      m.put("attempt", i.attemptNumber());
      m.put("span", stageSpan.getOrDefault(k, ""));
      m.put("submit_ms", i.submissionTime().isDefined()
          ? (long) (Long) i.submissionTime().get() : -1L);
      m.put("complete_ms", i.completionTime().isDefined()
          ? (long) (Long) i.completionTime().get() : -1L);
      m.put("tasks", c[0]);
      m.put("tasks_failed", c[1]);
      m.put("failed", i.failureReason().isDefined());
      m.put("run_ms", t.executorRunTime());
      m.put("cpu_ns", t.executorCpuTime());
      m.put("gc_ms", t.jvmGCTime());
      m.put("shuffle_read_b", t.shuffleReadMetrics().totalBytesRead());
      m.put("shuffle_write_b", t.shuffleWriteMetrics().bytesWritten());
      m.put("spill_b", t.memoryBytesSpilled() + t.diskBytesSpilled());
      m.put("input_b", t.inputMetrics().bytesRead());
      stages.add(m);
    }
  }

  private final SparkSession spark;
  private final SparkContext sc;
  private final String sfDir;
  private final File tmpRoot;
  private final List<Span> spans = new ArrayList<>();
  private final List<Map<String, Object>> queryRuns = new ArrayList<>();
  private Recorder recorder;
  private boolean tracing;

  private Harness(SparkSession spark, String sfDir, File tmpRoot) {
    this.spark = spark;
    this.sc = spark.sparkContext();
    this.sfDir = sfDir;
    this.tmpRoot = tmpRoot;
  }

  private Span open(int parent, String name, String query, int pass) {
    Span s = new Span(spans.size(), parent, name, query, pass);
    spans.add(s);
    if (tracing) sc.setLocalProperty(SPAN_PROP, Integer.toString(s.id));
    s.startMs = System.currentTimeMillis();
    s.startNs = System.nanoTime();
    return s;
  }

  private double close(Span s) {
    s.endNs = System.nanoTime();
    s.endMs = System.currentTimeMillis();
    if (tracing) sc.setLocalProperty(SPAN_PROP, null);
    return (s.endNs - s.startNs) / 1e9;
  }

  /** Cross-run fixture builds finished so far under this run's temp root:
    * one `_built` marker per `graftcache_*` directory. */
  private int fixtureBuilds() {
    File[] dirs = tmpRoot.listFiles(
        f -> f.isDirectory() && f.getName().startsWith("graftcache_"));
    int n = 0;
    if (dirs != null)
      for (File d : dirs) if (new File(d, "_built").exists()) n++;
    return n;
  }

  /** Query output under this run's temp root written since `sinceMs`:
    * {count, bytes}. The sources writers (TFRecord shards, versioned
    * tables) write there directly, so Spark's output metrics never see
    * them. Spark's own local dir and the fixture directories are skipped:
    * the `graftcache_*` builds and their seeded per-run copies, both of
    * which hold a `_built` marker; fixture builds have their own count. */
  private long[] filesWrittenSince(long sinceMs) {
    long[] acc = new long[2];
    java.util.ArrayDeque<File> todo = new java.util.ArrayDeque<>();
    todo.push(tmpRoot);
    while (!todo.isEmpty()) {
      File[] kids = todo.pop().listFiles();
      if (kids == null) continue;
      for (File f : kids) {
        if (f.isDirectory()) {
          if (!f.getName().equals(SPARK_LOCAL)
              && !f.getName().startsWith("graftcache_")
              && !new File(f, "_built").exists()) todo.push(f);
        } else if (f.lastModified() >= sinceMs) {
          acc[0]++;
          acc[1] += f.length();
        }
      }
    }
    return acc;
  }

  private double storageMb() {
    long b = 0;
    for (RDDInfo r : sc.getRDDStorageInfo()) b += r.memSize() + r.diskSize();
    return b / 1048576.0;
  }

  private void runQuery(int pass, String name, int sessionSpan) {
    Map<String, Object> r = new LinkedHashMap<>();
    r.put("pass", pass);
    r.put("query", name);
    r.put("traced", tracing);
    int buildsBefore = tracing ? fixtureBuilds() : 0;
    double storagePeak = 0;
    Span q = open(sessionSpan, "query", name, pass);
    Span phase = open(q.id, "build", name, pass);
    try {
      Function2<SparkSession, String, Dataset<Row>> fn =
          SparkEntry.queries().apply(name);
      Dataset<Row> df = fn.apply(spark, sfDir);
      r.put("build_s", close(phase));
      if (tracing) storagePeak = storageMb();
      phase = open(q.id, "plan", name, pass);
      Dataset<Row> fp = df.select(xxhash64(col("*")).as("h"))
          .agg(count(lit(1)).as("n"),
               sum(col("h").cast("decimal(38,0)")).as("s"));
      fp.queryExecution().executedPlan();
      r.put("plan_s", close(phase));
      phase = open(q.id, "execute", name, pass);
      Row row = fp.collectAsList().get(0);
      r.put("execute_s", close(phase));
      r.put("rows", row.getLong(0));
      r.put("hash", row.isNullAt(1) ? "0" : row.getDecimal(1).toPlainString());
      r.put("error", null);
    } catch (Throwable e) {
      close(phase);
      r.put("error", e.getClass().getName() + ": " + e.getMessage());
      System.err.println("[perfbench] FAIL " + name + " pass " + pass + ": "
          + e.getClass().getName() + ": " + e.getMessage());
    }
    if (tracing) {
      storagePeak = Math.max(storagePeak, storageMb());
      r.put("persisted_rdds", sc.getPersistentRDDs().size());
    }
    phase = open(q.id, "release", name, pass);
    InternalCaches.releaseAll();
    int afterRelease = tracing ? sc.getPersistentRDDs().size() : 0;
    spark.catalog().clearCache();
    r.put("release_s", close(phase));
    r.put("total_s", close(q));
    r.put("span", q.id);
    if (tracing) {
      r.put("released_rdds",
          ((Integer) r.get("persisted_rdds")) - afterRelease);
      r.put("storage_peak_mb", storagePeak);
      r.put("fixture_builds", fixtureBuilds() - buildsBefore);
      long[] written = filesWrittenSince(q.startMs);
      r.put("files_written", written[0]);
      r.put("file_bytes_written", written[1]);
    }
    queryRuns.add(r);
  }

  public static void main(String[] args) throws Exception {
    if (args.length != 7) {
      System.err.println("usage: Harness <sfDir> <cpus> <seed> <warmPasses> "
          + "<trace 0|1> <out.json> <query,query,...>");
      System.exit(2);
    }
    String sfDir = args[0];
    String cpus = args[1];
    long seed = Long.parseLong(args[2]);
    int warmPasses = Integer.parseInt(args[3]);
    boolean trace = args[4].equals("1");
    File out = new File(args[5]);
    List<String> names = Arrays.asList(args[6].split(","));

    long jvmStartMs = ManagementFactory.getRuntimeMXBean().getStartTime();
    SparkSession spark = GraftSession.build(cpus);
    spark.sparkContext().setLogLevel("ERROR");
    GraftSession.warmup(spark, sfDir);
    long readyMs = System.currentTimeMillis();

    Harness h = new Harness(spark, sfDir,
        new File(System.getProperty("java.io.tmpdir")));
    for (String n : names)
      if (!SparkEntry.queries().contains(n))
        throw new IllegalArgumentException("unknown query " + n);
    Span session = h.open(-1, "session", "", -1);
    session.startMs = jvmStartMs;
    if (trace) h.recorder = new Recorder();

    // traced runs need one traced and one untraced warm pass at least
    if (trace) warmPasses = Math.max(warmPasses, 2);
    Random rnd = new Random(seed);
    List<Map<String, Object>> passes = new ArrayList<>();
    for (int pass = 0; pass <= warmPasses; pass++) {
      // traced runs: cold pass and odd warm passes traced, even untraced
      boolean traced = trace && (pass == 0 || pass % 2 == 1);
      if (traced && !h.tracing)
        spark.sparkContext().addSparkListener(h.recorder);
      else if (!traced && h.tracing) {
        org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark);
        spark.sparkContext().removeSparkListener(h.recorder);
      }
      h.tracing = traced;
      List<String> order = new ArrayList<>(names);
      Collections.shuffle(order, rnd);
      int builds = h.fixtureBuilds();
      long ps = System.nanoTime();
      for (String n : order) h.runQuery(pass, n, session.id);
      Map<String, Object> p = new LinkedHashMap<>();
      p.put("pass", pass);
      p.put("traced", traced);
      p.put("order", order);
      p.put("wall_s", (System.nanoTime() - ps) / 1e9);
      p.put("fixture_builds", h.fixtureBuilds() - builds);
      passes.add(p);
    }
    if (h.tracing) {
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark);
      spark.sparkContext().removeSparkListener(h.recorder);
      h.tracing = false;
    }
    h.close(session);

    Map<String, Object> rec = new LinkedHashMap<>();
    rec.put("jvm_start_ms", jvmStartMs);
    rec.put("ready_ms", readyMs);
    rec.put("session_s", (readyMs - jvmStartMs) / 1e3);
    rec.put("spark_version", spark.version());
    rec.put("jdk", System.getProperty("java.version"));
    rec.put("max_heap_mb", Runtime.getRuntime().maxMemory() / 1048576);
    rec.put("master", spark.sparkContext().master());
    rec.put("default_parallelism", spark.sparkContext().defaultParallelism());
    rec.put("passes", passes);
    rec.put("queries", h.queryRuns);
    if (trace) {
      List<Map<String, Object>> sp = new ArrayList<>();
      for (Span s : h.spans) sp.add(s.toMap());
      rec.put("spans", sp);
      rec.put("jobs", new ArrayList<>(h.recorder.jobs));
      rec.put("stages", new ArrayList<>(h.recorder.stages));
    }
    new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)
        .writeValue(out, rec);
    spark.stop();
  }
}
