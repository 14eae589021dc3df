package graftbench

import java.io.{ByteArrayInputStream, File, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPInputStream

/** Output checks over a ZipNum cluster, computed apart from the program:
  * JDK gzip, plain Scala collections and the generator's capture list. */
object Checks {

  final case class Idx(firstKey: String, shard: String, offset: Long, length: Long, seq: Long)

  final case class Summary(lines: Long, blocks: Int, shardLines: Map[String, Long])

  private def fail(msg: String): Nothing = throw new CheckFailed(msg)

  def readIdx(dir: File): Array[Idx] = {
    val f = new File(dir, "cluster.idx")
    if (!f.isFile) fail(s"no cluster.idx in $dir")
    new String(Files.readAll(f), UTF_8).split("\n").filter(_.nonEmpty).map { l =>
      val p = l.split("\t", -1)
      if (p.length != 5) fail(s"idx line has ${p.length} fields: $l")
      Idx(p(0), p(1), p(2).toLong, p(3).toLong, p(4).toLong)
    }
  }

  def inflate(bytes: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes), 1 << 16)
    try in.readAllBytes() finally in.close()
  }

  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(UTF_8)
    val y = b.getBytes(UTF_8)
    java.util.Arrays.compareUnsigned(x, y) < 0
  }

  /** Every check of a built cluster against the corpus it was built from:
    * line count, strict order in idx `seq` order, idx first keys, block
    * size and tiling, and each line's key, timestamp and JSON fields
    * against the capture the generator wrote at that (file, offset). */
  def cluster(dir: File, corpus: Corpus, linesPerBlock: Int): Summary = {
    val idx = readIdx(dir)
    if (idx.isEmpty) fail("cluster.idx is empty")
    idx.zipWithIndex.foreach { case (e, i) => if (e.seq != i) fail(s"idx seq ${e.seq} at line $i") }
    // blocks tile each shard file exactly
    val shards = idx.groupBy(_.shard)
    shards.foreach { case (shard, es) =>
      val f = new File(dir, shard)
      if (!f.isFile) fail(s"idx names missing shard $shard")
      var at = 0L
      es.sortBy(_.offset).foreach { e =>
        if (e.offset != at) fail(s"$shard: block at ${e.offset}, expected $at (gap or overlap)")
        if (e.length <= 0) fail(s"$shard: empty block at ${e.offset}")
        at += e.length
      }
      if (at != f.length()) fail(s"$shard: blocks end at $at, file has ${f.length()} bytes")
    }
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("cdx-") && f.length() > 0)
      .foreach(f => if (!shards.contains(f.getName)) fail(s"shard ${f.getName} is not in cluster.idx"))

    val byLoc = new java.util.HashMap[(String, Long), Capture](corpus.captures.length * 2)
    corpus.captures.foreach(c => byLoc.put((c.file, c.offset), c))
    val seen = new java.util.HashSet[(String, Long)](corpus.captures.length * 2)
    val handles = shards.keys.map(s => s -> new RandomAccessFile(new File(dir, s), "r")).toMap
    var prev: String = null
    var lines = 0L
    val shardLines = scala.collection.mutable.HashMap.empty[String, Long]
    try idx.foreach { e =>
      val buf = new Array[Byte](e.length.toInt)
      val raf = handles(e.shard)
      raf.seek(e.offset)
      raf.readFully(buf)
      val text =
        try new String(inflate(buf), UTF_8)
        catch { case x: java.io.IOException => fail(s"block ${e.seq} does not inflate: ${x.getMessage}") }
      val ls = text.split("\n", -1).dropRight(1)
      if (!text.endsWith("\n")) fail(s"block ${e.seq} does not end with a newline")
      if (ls.isEmpty || ls.length > linesPerBlock) fail(s"block ${e.seq} holds ${ls.length} lines")
      val first = ls(0).split(" ", 3)
      if (first.length < 2 || e.firstKey != first(0) + " " + first(1))
        fail(s"block ${e.seq} idx key '${e.firstKey}' is not its first key")
      ls.foreach { l =>
        if (prev != null && !utf8Less(prev, l)) fail(s"lines out of order: '$prev' then '$l'")
        prev = l
        val p = l.split(" ", 3)
        if (p.length != 3) fail(s"line has ${p.length} fields: $l")
        val f = Json.flat(p(2))
        val loc = (f.getOrElse("filename", ""), f.getOrElse("offset", "-1").toLong)
        val c = byLoc.get(loc)
        if (c == null) fail(s"line names no record the generator wrote: $l")
        if (!seen.add(loc)) fail(s"record indexed twice: $l")
        if (p(0) != c.urlkey) fail(s"urlkey '${p(0)}' != generator SURT '${c.urlkey}' for ${c.url}")
        if (Oracle.canon(p(0), p(1), f) != Oracle.canon(c.urlkey, c.ts, Oracle.fields(c)))
          fail(s"line fields differ from the capture: $l vs $c")
      }
      lines += ls.length
      shardLines(e.shard) = shardLines.getOrElse(e.shard, 0L) + ls.length
    } finally handles.values.foreach(_.close())
    if (lines != corpus.captures.length)
      fail(s"cluster holds $lines lines, generator wrote ${corpus.captures.length} response+revisit records")
    Summary(lines, idx.length, shardLines.toMap)
  }

  /** Each line's offset/length must locate a member of its WARC that JDK
    * gzip inflates to a record with the line's URL and timestamp. Lines
    * are equal to captures by [[cluster]], so the captures are checked. */
  def recordLocations(corpus: Corpus, threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      corpus.captures.groupBy(_.file).toSeq.map { case (file, cs) =>
        pool.submit { () =>
          val bytes = Files.readAll(new File(corpus.dir, file))
          cs.foreach { c =>
            if (c.offset + c.length > bytes.length) fail(s"$file: member ${c.offset}+${c.length} past EOF")
            val rec = inflate(java.util.Arrays.copyOfRange(bytes, c.offset.toInt, (c.offset + c.length).toInt))
            val end = math.min(rec.length, 4096)
            val head = new String(rec, 0, end, UTF_8)
            val hdr = head.substring(0, math.max(0, head.indexOf("\r\n\r\n"))).split("\r\n")
              .flatMap { h => val i = h.indexOf(':'); if (i > 0) Some(h.substring(0, i) -> h.substring(i + 1).trim) else None }
              .toMap
            val ts = hdr.getOrElse("WARC-Date", "").replaceAll("[^0-9]", "").take(14)
            if (hdr.get("WARC-Target-URI").orNull != c.url || ts != c.ts)
              fail(s"$file@${c.offset}: member holds ${hdr.get("WARC-Target-URI")} $ts, line says ${c.url} ${c.ts}")
          }
          cs.length
        }
      }.foreach(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }
}
