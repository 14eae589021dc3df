package graftbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import graft.{CdxServer, Pipeline}
import graft.formats.ZipNum
import org.apache.spark.sql.SparkSession

/** Proves the output checks catch real errors: a small cluster built by
  * the program must pass them, and four damaged variants must each be
  * rejected — two lines swapped, one idx offset shifted, one block
  * dropped, and one wrong lookup answer. Runs before every set-up, so it
  * also warms the engine outside every timed interval. */
object SelfTest {

  val Mini = Shape("mini", 2, 200, html = false, hosts = 30, hotHostShare = 0.33,
    urlsPerHost = 6, revisitShare = 0.2)
  val MiniLinesPerBlock = 20

  private def rejects(what: String)(check: => Unit): Unit = {
    val caught =
      try { check; false }
      catch { case _: CheckFailed => true }
    if (!caught) throw new CheckFailed(s"self-test: the checks accepted $what")
  }

  /** a cluster as (shard -> blocks of lines), in idx order */
  private def load(dir: File): Seq[(String, Seq[Array[String]])] = {
    val idx = Checks.readIdx(dir)
    val raf = idx.map(_.shard).distinct.map(s => s -> new java.io.RandomAccessFile(new File(dir, s), "r")).toMap
    try {
      val blocks = idx.map { e =>
        val buf = new Array[Byte](e.length.toInt)
        raf(e.shard).seek(e.offset)
        raf(e.shard).readFully(buf)
        e.shard -> new String(Checks.inflate(buf), UTF_8).split("\n").filter(_.nonEmpty)
      }
      blocks.map(_._1).distinct.map(s => s -> blocks.filter(_._1 == s).map(_._2).toSeq).toSeq
    } finally raf.values.foreach(_.close())
  }

  /** write a well-formed cluster (JDK gzip members, consistent idx) */
  private def store(dir: File, shards: Seq[(String, Seq[Array[String]])]): Unit = {
    Files.deleteTree(dir)
    dir.mkdirs()
    val idx = new StringBuilder
    var seq = 0
    shards.foreach { case (shard, blocks) =>
      val out = new FileOutputStream(new File(dir, shard))
      var offset = 0L
      blocks.foreach { lines =>
        val buf = new ByteArrayOutputStream()
        val gz = new GZIPOutputStream(buf)
        lines.foreach(l => gz.write((l + "\n").getBytes(UTF_8)))
        gz.close()
        out.write(buf.toByteArray)
        val first = lines(0).split(" ", 3)
        idx ++= s"${first(0)} ${first(1)}\t$shard\t$offset\t${buf.size}\t$seq\n"
        offset += buf.size
        seq += 1
      }
      out.close()
    }
    java.nio.file.Files.write(new File(dir, "cluster.idx").toPath, idx.toString.getBytes(UTF_8))
  }

  def run(spark: SparkSession, seed: Long, dir: File): Unit = {
    Files.deleteTree(dir)
    val corpus = Gen.corpus(seed, Mini, new File(dir, "corpus"), 2)
    val built = new File(dir, "cluster")
    ZipNum.write(Pipeline.cdxLines(spark, corpus.dir.getPath + "/*.warc.gz"), built.getPath, 4, MiniLinesPerBlock)
    Checks.cluster(built, corpus, MiniLinesPerBlock)
    val good = load(built)
    val copy = new File(dir, "damaged")
    // a rewritten but undamaged copy passes, so each rejection below is
    // the damage's doing, not the rewrite's
    store(copy, good)
    Checks.cluster(copy, corpus, MiniLinesPerBlock)

    val (si, bi) = good.indices.flatMap(s => good(s)._2.indices.map(b => (s, b)))
      .find { case (s, b) => good(s)._2(b).length >= 3 }
      .getOrElse(throw new CheckFailed("self-test: no block with three lines"))
    store(copy, good.updated(si, good(si)._1 -> good(si)._2.updated(bi, {
      val ls = good(si)._2(bi).clone()
      val t = ls(1); ls(1) = ls(2); ls(2) = t
      ls
    })))
    rejects("two swapped lines")(Checks.cluster(copy, corpus, MiniLinesPerBlock))

    store(copy, good)
    val idxFile = new File(copy, "cluster.idx")
    val idx = new String(Files.readAll(idxFile), UTF_8).split("\n")
    val k = idx.length / 2
    val f = idx(k).split("\t")
    idx(k) = Seq(f(0), f(1), (f(2).toLong + 1).toString, f(3), f(4)).mkString("\t")
    java.nio.file.Files.write(idxFile.toPath, idx.mkString("", "\n", "\n").getBytes(UTF_8))
    rejects("a shifted idx offset")(Checks.cluster(copy, corpus, MiniLinesPerBlock))

    store(copy, good.updated(si, good(si)._1 -> good(si)._2.patch(bi, Nil, 1)).filter(_._2.nonEmpty))
    rejects("a dropped block")(Checks.cluster(copy, corpus, MiniLinesPerBlock))

    val oracle = new Oracle(corpus.captures)
    val server = new CdxServer(spark, built.getPath)
    val key = corpus.captures.groupBy(_.urlkey).maxBy(_._2.length)._1
    val answer = Main.rows(server.exactUrl(key))
    oracle.check(Exact(key), answer)
    val wrong = answer.updated(answer.length - 1, answer.last.copy(ts = "20000101000000"))
    rejects("a wrong lookup answer")(oracle.check(Exact(key), wrong))
    Files.deleteTree(dir)
  }
}
