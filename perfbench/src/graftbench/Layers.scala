package graftbench

import java.io.File

import graft.{CdxServer, Pipeline}
import graft.formats.{Gzip, Warc, ZipNum}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run. Each layer is timed from outside by
  * calling the program's public functions in isolation; the calls are
  * laid end to end (inflate, scan, derive, exchange + sort, block write)
  * so their self times add up to roughly one end-to-end build. */
object Layers {

  /** the engine section a run's spark.* metrics cover */
  final case class Section(from: EngineListener#Snap, to: EngineListener#Snap, wallSecs: Double)

  /** lookups timed layer by layer, one at a time */
  val LayerLookups = 40

  def measure(
      spark: SparkSession, engine: EngineListener, t: Tracer, cores: Int,
      corpus: Corpus, served: File, oracle: Oracle, ops: Array[Op],
      section: Section, buildSecs: Seq[Double]): Seq[(String, Double, String)] = {
    val sc = spark.sparkContext
    val glob = corpus.dir.getPath + "/*.warc.gz"
    def timed(name: String)(body: => Unit): Double = {
      sc.setJobGroup(name, name, false)
      val t0 = Clock.now()
      try t.span(name)(body) finally sc.clearJobGroup()
      Clock.secs(t0)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // formats.Gzip: drain every corpus file, one thread per engine core at most
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(cores, corpus.files.size))
    var members = 0L
    var inflated = 0L
    val gzipS = try timed("layer.gzip.inflate") {
      val fs = corpus.files.map { f =>
        pool.submit { () =>
          val in = new java.io.BufferedInputStream(new java.io.FileInputStream(new File(corpus.dir, f)), 1 << 16)
          try {
            var n = 0L
            var b = 0L
            Gzip.entries(in, permissive = true).foreach {
              case m: Gzip.Member => n += 1; b += m.bytes.length
              case _ =>
            }
            (n, b)
          } finally in.close()
        }
      }
      fs.map(_.get()).foreach { case (n, b) => members += n; inflated += b }
    } finally pool.shutdown()

    // formats.Warc: scan -> noop, counting records and corrupt spans; and
    // Pipeline: derive -> noop. The derive's own share is small next to
    // the scan it contains, so both run twice, alternated, best of two.
    val obs = Observation("warc_scan")
    val scanS0 = timed("layer.warc.scan") {
      noop(Warc.scan(spark, glob).observe(obs, count(lit(1)).as("records"),
        sum(when(col("record_type") === "corrupt", 1).otherwise(0)).as("corrupt")))
    }
    val scanCounts = obs.get
    engine.quiesce()
    val scanTasks = engine.group("layer.warc.scan")._2
    val deriveS0 = timed("layer.cdx.derive")(noop(Pipeline.cdxLines(spark, glob)))
    val scanS = math.min(scanS0, timed("layer.warc.scan")(noop(Warc.scan(spark, glob))))
    val deriveS = math.min(deriveS0, timed("layer.cdx.derive")(noop(Pipeline.cdxLines(spark, glob))))

    // functions: SURT over a persisted URL column
    val urls = Warc.scan(spark, glob).filter(col("record_type").isin("response", "revisit")).select("url").persist()
    val nUrls = urls.count()
    val surtS = timed("layer.surt")(noop(urls.selectExpr("surt_key_native(url) AS k")))
    urls.unpersist(blocking = true)

    // formats.ZipNum write over a persisted lines frame
    val lines = Pipeline.cdxLines(spark, glob).persist()
    val lineStats = lines.agg(count(lit(1)), sum(octet_length(col("line")))).first()
    val exSortS = timed("layer.zipnum.exchange_sort") {
      noop(lines.select("line").repartitionByRange(Main.Shards, col("line")).sortWithinPartitions("line"))
    }
    val layerOut = new File(served.getParentFile, "layer-cluster")
    val w0 = engine.snap()
    val writeS = timed("layer.zipnum.write")(ZipNum.write(lines, layerOut.getPath, Main.Shards, Main.LinesPerBlock))
    val w1 = engine.snap()
    lines.unpersist(blocking = true)
    val written = Checks.cluster(layerOut, corpus, Main.LinesPerBlock)
    Files.deleteTree(layerOut)
    val meanShard = written.shardLines.values.sum.toDouble / written.shardLines.size

    // formats.ZipNum idx, sources.ZipNumSource and CdxServer, one lookup at a time
    val conf = sc.hadoopConfiguration
    val server = new CdxServer(spark, served.getPath)
    val sample = ops.take(LayerLookups)
    val idxMs, srcMs, planMs, execMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val byKind = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    var blocks, kb = 0.0
    sample.zipWithIndex.foreach { case (op, i) =>
      val p = op match { case HostQ(h) => h + ")"; case o => o.key }
      val (lo, hi) = ZipNum.prefixBounds(p)
      val s0 = Clock.now()
      t.span("layer.zipnum.idx_search")(ZipNum.scanIdxRange(served.getPath, conf, lo, hi))
      idxMs += Clock.ms(s0)
      val src = spark.read.format("zipnum").load(served.getPath).filter(col("urlkey").startsWith(p))
      val s1 = Clock.now()
      t.span("layer.zipnum.source_read")(src.collect())
      srcMs += Clock.ms(s1)
      blocks += Engine.planMetric(src, "blocksRead")
      kb += Engine.planMetric(src, "compressedBytesRead") / 1024.0
      sc.setJobGroup(s"lookup-$i", op.kind, false)
      try {
        val s2 = Clock.now()
        t.span("layer.cdxserver.lookup") {
          val df = Main.lookup(server, op)
          t.span("layer.cdxserver.plan")(df.queryExecution.executedPlan)
          val s3 = Clock.now()
          planMs += Clock.ms(s2, s3)
          val got = t.span("layer.cdxserver.exec")(Main.rows(df))
          execMs += Clock.ms(s3)
          oracle.check(op, got)
        }
        val kind = if (op.kind == "host") "prefix" else op.kind
        byKind.getOrElseUpdate(kind, scala.collection.mutable.ArrayBuffer.empty) += Clock.ms(s2)
      } finally sc.clearJobGroup()
    }
    engine.quiesce()
    val perLookup = sample.indices.map(i => engine.group(s"lookup-$i"))
    def p50(k: String) = Stats.median(byKind.getOrElse(k, throw new IllegalStateException(s"no $k lookups in the sample")).toSeq)

    // self times of the isolated calls laid end to end: inflate + parse +
    // derive + exchange/sort + block write = derive total + write total
    val stageSum = deriveS + writeS
    val sec = section
    val mb = 1e6
    Seq(
      ("gzip.inflate_mb_per_s", inflated / mb / gzipS, "MB/s"),
      ("gzip.members", members.toDouble, "count"),
      ("warc.scan_s", scanS, "s"),
      ("warc.parse_self_s", scanS - gzipS, "s"),
      ("warc.records", scanCounts("records").toString.toDouble, "count"),
      ("warc.corrupt_records", scanCounts("corrupt").toString.toDouble, "count"),
      ("warc.scan_tasks", scanTasks.toDouble, "count"),
      ("cdx.derive_s", deriveS - scanS, "s"),
      ("surt.keys_per_s", nUrls / surtS, "keys/s"),
      ("cdx.lines", lineStats.getLong(0).toDouble, "count"),
      ("cdx.line_mb", lineStats.getLong(1) / mb, "MB"),
      ("zipnum.write_s", writeS, "s"),
      ("zipnum.exchange_sort_s", exSortS, "s"),
      ("zipnum.block_write_self_s", writeS - exSortS, "s"),
      ("zipnum.blocks", written.blocks.toDouble, "count"),
      ("zipnum.shard_skew", written.shardLines.values.max / meanShard, "ratio"),
      ("zipnum.shuffle_write_mb", (w1.shuffle - w0.shuffle) / mb, "MB"),
      ("zipnum.idx_search_ms", Stats.median(idxMs.toSeq), "ms"),
      ("zipnum.source_read_ms", Stats.median(srcMs.toSeq), "ms"),
      ("zipnum.blocks_per_lookup", blocks / sample.length, "count"),
      ("zipnum.compressed_kb_per_lookup", kb / sample.length, "KB"),
      ("cdxserver.plan_ms", Stats.median(planMs.toSeq), "ms"),
      ("cdxserver.exec_ms", Stats.median(execMs.toSeq), "ms"),
      ("cdxserver.closest_p50_ms", p50("closest"), "ms"),
      ("cdxserver.exact_p50_ms", p50("exact"), "ms"),
      ("cdxserver.prefix_p50_ms", p50("prefix"), "ms"),
      ("cdxserver.jobs_per_lookup", perLookup.map(_._1).sum.toDouble / sample.length, "count"),
      ("cdxserver.tasks_per_lookup", perLookup.map(_._2).sum.toDouble / sample.length, "count"),
      ("spark.jobs", (sec.to.jobs - sec.from.jobs).toDouble, "count"),
      ("spark.tasks", (sec.to.tasks - sec.from.tasks).toDouble, "count"),
      ("spark.shuffle_write_mb", (sec.to.shuffle - sec.from.shuffle) / mb, "MB"),
      ("spark.spill_mb", (sec.to.spill - sec.from.spill) / mb, "MB"),
      ("spark.gc_s", (sec.to.gcMs - sec.from.gcMs) / 1e3, "s"),
      ("spark.core_busy_ratio", (sec.to.runMs - sec.from.runMs) / 1e3 / (sec.wallSecs * cores), "ratio"),
      ("trace.build_s", Stats.median(buildSecs), "s"),
      ("trace.stage_sum_s", stageSum, "s"))
  }
}
