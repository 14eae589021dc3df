package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import graft.{CdxServer, GraftSession, Pipeline}
import graft.formats.ZipNum
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Index-pipeline benchmark: WARC -> CDX -> ZipNum build and cdx-server
  * lookups, end to end and per layer. One process, `local[cores]`, at
  * most `cores` client threads. Prints one JSON result as its last line;
  * any failed output check prints no result and exits non-zero. */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: File, traceFile: File)

  /** the reference's ZipNum block size and this pipeline's default shard count */
  val LinesPerBlock = 3000
  val Shards = 8
  /** set-ups per run; setup_s is their median */
  val SetupRepeats = 3
  /** lookups at least in a window, so ten samples lie beyond the p90 */
  val MinLookups = 100
  /** untimed lookups that warm the lookup path before the window */
  val WarmLookups = 12

  /** corpus shape per workload, sized from the machine's core count */
  def shape(workload: String, nproc: Int): Shape = workload match {
    // a few large files of HTML, fewer files than cores
    case "index_html" => Shape("html", math.max(1, nproc - 1), 900, html = true,
      hosts = 400, hotHostShare = 0.05, urlsPerHost = 8, revisitShare = 0.10)
    // many small files (8x cores) of tiny records, one host holds a third
    case "index_tiny" => Shape("tiny", 8 * nproc, 400, html = false,
      hosts = 2000, hotHostShare = 0.33, urlsPerHost = 12, revisitShare = 0.20)
    // the served cluster: tiny records, popularity spread over many URLs
    case "lookup_mix" => Shape("lookup", 2 * nproc, 2000, html = false,
      hosts = 3000, hotHostShare = 0.05, urlsPerHost = 12, revisitShare = 0.20, urlZipf = 0.6)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** index builds per run on the index workloads: whole rounds, so every
    * run times the same work whatever the machine's speed */
  def builds(workload: String): Int = if (workload == "index_html") 5 else 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(need("workload"), need("seed").toLong, seconds, trace,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      new File(need("work")), new File(need("trace-file")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val code =
      try { run(args); 0 }
      catch {
        case e: CheckFailed =>
          System.err.println(s"CHECK FAILED: ${e.getMessage}")
          3
        // exit here: Spark's non-daemon threads would keep the JVM alive
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  /** one timed index build: the program's pipeline from the first call
    * until cluster.idx is published */
  def build(spark: SparkSession, corpus: Corpus, out: File, t: Tracer): Double = {
    val t0 = Clock.now()
    t.span("index.build") {
      val lines = t.span("pipeline.cdxLines")(Pipeline.cdxLines(spark, corpus.dir.getPath + "/*.warc.gz"))
      t.span("zipnum.write")(ZipNum.write(lines, out.getPath, Shards, LinesPerBlock))
    }
    Clock.secs(t0)
  }

  def lookup(server: CdxServer, op: Op): DataFrame = op match {
    case Closest(k, ts) => server.closest(k, ts, 1)
    case Exact(k) => server.exactUrl(k)
    case HostQ(h) => server.host(h)
    case PrefixQ(p) => server.prefix(p)
  }

  def rows(df: DataFrame): Array[Row3] =
    df.collect().map(r => Row3(r.getString(0), r.getString(1), r.getString(2)))

  final case class Served(op: Op, ms: Double, rows: Array[Row3])

  /** closed loop: `clients` threads, each waits for its answer before
    * sending the next op; with a `count` that many ops run, otherwise no
    * op starts after `untilNs` once `minCount` have started */
  def serve(
      server: CdxServer, ops: Array[Op], clients: Int, untilNs: Long,
      count: Int = Int.MaxValue, minCount: Int = 0): (Seq[Served], Double) = {
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Served]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val bounded = count != Int.MaxValue
    val t0 = Clock.now()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < count && (bounded || i < minCount || System.nanoTime() < untilNs) && failure.get == null) {
          val op = ops(i % ops.length)
          val s = Clock.now()
          val r = rows(lookup(server, op))
          out.add(Served(op, Clock.ms(s), r))
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach { th => th.setUncaughtExceptionHandler((_, e) => failure.compareAndSet(null, e)); th.start() }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    import scala.jdk.CollectionConverters._
    (out.asScala.toSeq, Clock.secs(t0))
  }

  def run(a: Args): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val sh = shape(a.workload, nproc)
    Files.deleteTree(a.work)
    a.work.mkdirs()
    val t = new Tracer(a.trace, s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
    val spark = GraftSession.local(a.cores)
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    val corpusDir = new File(a.work, "corpus")
    val lookupMix = a.workload == "lookup_mix"
    val served = new File(a.work, "served")
    val st0 = Clock.now()
    SelfTest.run(spark, a.seed, new File(a.work, "selftest"))
    System.err.println(f"[graftbench] self-test passed in ${Clock.secs(st0)}%.1f s")

    // ---- set-up, several times; setup_s is the median
    var corpus: Corpus = null
    val setupBuilds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setups = (0 until SetupRepeats).map { _ =>
      val t0 = Clock.now()
      corpus = t.span("setup.generate")(Gen.corpus(a.seed, sh, corpusDir, nproc))
      if (lookupMix) setupBuilds += build(spark, corpus, served, t)
      Clock.secs(t0)
    }
    val oracle = new Oracle(corpus.captures)
    val ops = Oracle.ops(a.seed, oracle, Gen.population(a.seed, sh), 20000)

    // ---- measured window
    val windowNs = a.seconds * 1000000000L
    val w0 = Clock.now()
    val before = engine.snap()
    val buildSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (lookupMix) {
      // the set-up builds are this workload's index builds
      buildSecs ++= setupBuilds
      Checks.cluster(served, corpus, LinesPerBlock)
    } else {
      (0 until builds(a.workload)).foreach { round =>
        Files.deleteTree(served)
        buildSecs += build(spark, corpus, served, t)
        // outside the timed build: check every round's output
        Checks.cluster(served, corpus, LinesPerBlock)
      }
    }
    val afterBuild = engine.snap()
    val server = new CdxServer(spark, served.getPath)
    // warm the lookup path outside the window (first plans pay codegen)
    val warm = serve(server, ops, a.cores, 0L, count = WarmLookups)._1
    val beforeLoop = engine.snap()
    val (answers, loopSecs) = serve(server, ops.drop(warm.size), a.cores, w0 + windowNs, minCount = MinLookups)
    val after = engine.snap()

    // ---- checks outside the timed intervals
    Checks.recordLocations(corpus, nproc)
    (answers ++ warm).foreach(s => oracle.check(s.op, s.rows))

    val clusterBytes = Files.treeBytes(served, f => f.getName.startsWith("cdx-") || f.getName == "cluster.idx")
    val medBuild = Stats.median(buildSecs.toSeq)
    val lat = answers.map(_.ms)
    val attempted = (if (lookupMix) 0 else buildSecs.size) + answers.size
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("index_mb_per_s", corpus.compressedBytes / 1e6 / medBuild, "MB/s"),
        ("index_records_per_s", corpus.records / medBuild, "records/s"),
        ("cluster_mb", clusterBytes / 1e6, "MB"),
        ("lookups_per_s", answers.size / loopSecs, "lookups/s"),
        ("lookup_p50_ms", Stats.median(lat), "ms"),
        ("lookup_p90_ms", Stats.quantile(lat, 0.90), "ms"),
        ("peak_rss_mb", Engine.peakRssMb(), "MB"))
      else {
        val section =
          if (lookupMix) Layers.Section(beforeLoop, after, loopSecs)
          else Layers.Section(before, afterBuild, buildSecs.sum)
        Layers.measure(spark, engine, t, a.cores, corpus, served, oracle, ops, section, buildSecs.toSeq)
      }

    System.err.println(f"[graftbench] ${a.workload}: ${corpus.records} records, " +
      f"${corpus.compressedBytes / 1e6}%.1f MB in, ${corpus.inflatedBytes / 1e6}%.1f MB inflated, " +
      f"${corpus.captures.length} captures, builds=${buildSecs.map(x => f"$x%.2f").mkString(",")}, " +
      f"lookups=${answers.size} in $loopSecs%.1fs, setups=${setups.map(x => f"$x%.2f").mkString(",")}")
    if (a.trace) t.write(a.traceFile)
    spark.stop()
    Files.deleteTree(a.work)
    val body = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": true, "attempted": $attempted, "failed": 0, "metrics": {$body}}""")
  }
}
