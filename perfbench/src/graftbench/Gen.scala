package graftbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream

/** One response or revisit record the generator wrote: everything a CDX
  * line for it must carry, computed here and never by the program. */
final case class Capture(
    file: String, offset: Long, length: Long, kind: String,
    url: String, urlkey: String, ts: String, mime: String, status: Int,
    digest: String)

/** A generated corpus: the `.warc.gz` files under `dir`, the capture list
  * the expected answers come from, and the totals the metrics divide by. */
final case class Corpus(
    dir: File, files: Seq[String], captures: Array[Capture],
    records: Long, compressedBytes: Long, inflatedBytes: Long)

/** Corpus shape of one workload. */
final case class Shape(
    name: String, files: Int, recordsPerFile: Int, html: Boolean,
    hosts: Int, hotHostShare: Double, urlsPerHost: Int, revisitShare: Double,
    urlZipf: Double = 0.9)

/** Seeded WARC corpus generator, independent of the program: each record
  * is one `java.util.zip.GZIPOutputStream` member, and every URL comes
  * from a grammar whose SURT form is computed here (lowercase and reverse
  * the host, drop `www.`, sort the query). The same seed gives the same
  * bytes. */
object Gen {

  /** splitmix64: the one seeded random source, so corpora do not depend on
    * the JDK's `Random` implementation */
  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  }

  def mix(a: Long, b: Long): Long = new Rng(a * 0x632be59bd9b4e019L + b).nextLong()

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: Rng): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private val Syllables = Array(
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da", "gu", "hi",
    "jo", "ke", "la", "mo", "nu", "po", "ri", "se", "ta", "wi", "ze", "ba",
    "co", "di", "fa", "ge", "ho", "ja", "ku", "li", "ma", "ni", "pa", "ro",
    "su", "te", "va", "yo")

  private def word(r: Rng, minSyl: Int, maxSyl: Int): String = {
    val sb = new StringBuilder
    var i = r.between(minSyl, maxSyl)
    while (i > 0) { sb ++= Syllables(r.nextInt(Syllables.length)); i -= 1 }
    sb.toString
  }

  private val Tlds = Array("com", "org", "net", "de", "co.uk", "fr", "io", "info")

  /** one host name as crawled: some carry a `www.` prefix and upper case,
    * which the SURT form must drop and fold */
  final case class Host(crawled: String, surt: String)

  private def host(r: Rng, i: Int): Host = {
    val base = s"${word(r, 2, 4)}$i.${Tlds(r.nextInt(Tlds.length))}"
    val sub = if (r.nextInt(5) == 0) word(r, 1, 2) + "." else ""
    val www = r.nextInt(3) == 0
    val lower = sub + base
    val crawledLower = (if (www) "www." else "") + lower
    val crawled = if (r.nextInt(4) == 0) crawledLower.toUpperCase else crawledLower
    Host(crawled, lower.split('.').reverse.mkString(","))
  }

  /** URL + its SURT key, both from the grammar
    * `scheme://host/seg(/seg)*[?k=v(&k=v)*]` over lowercase tokens */
  final case class Url(url: String, urlkey: String, hostIdx: Int)

  private def url(r: Rng, h: Host, hostIdx: Int, longPaths: Boolean): Url = {
    val segs = if (longPaths) r.between(4, 9) else r.between(1, 4)
    val path = (0 until segs).map(_ => word(r, 1, if (longPaths) 5 else 3)).mkString("/", "/", "")
    val withExt = if (!longPaths && r.nextInt(2) == 0) path + ".html" else path
    val nParams = if (longPaths) r.between(2, 6) else (if (r.nextInt(3) == 0) r.between(1, 3) else 0)
    // distinct keys, emitted unsorted; the SURT form sorts them
    val params = (0 until nParams).map(i => s"${word(r, 1, 2)}$i=${word(r, 1, 4)}")
    val query = if (params.isEmpty) "" else params.mkString("?", "&", "")
    val scheme = if (r.nextInt(4) == 0) "https" else "http"
    val sortedQuery = if (params.isEmpty) "" else params.sorted.mkString("?", "&", "")
    Url(s"$scheme://${h.crawled}$withExt$query", s"${h.surt})$withExt$sortedQuery", hostIdx)
  }

  /** absent lookup key: a path on a known host that no capture has */
  def absentKey(r: Rng, h: Host): String = s"${h.surt})/zz${word(r, 3, 4)}/missing${r.nextInt(1000000)}"

  /** URL population: host 0 is the hot host; the others follow Zipf */
  final case class Population(hosts: Array[Host], urls: Array[Url], byHost: Array[Array[Int]])

  def population(seed: Long, shape: Shape): Population = {
    val r = new Rng(mix(seed, 1))
    val hosts = Array.tabulate(shape.hosts)(i => host(r, i))
    val hostZipf = new Zipf(shape.hosts, 1.0)
    val nUrls = shape.hosts * shape.urlsPerHost
    val urls = Array.tabulate(nUrls) { i =>
      // the first urlsPerHost * 4 URLs belong to the hot host
      val h = if (i < shape.urlsPerHost * 4) 0 else 1 + hostZipf.sample(r) % (shape.hosts - 1)
      url(r, hosts(h), h, !shape.html)
    }
    val byHost = Array.fill(shape.hosts)(scala.collection.mutable.ArrayBuffer.empty[Int])
    urls.indices.foreach(i => byHost(urls(i).hostIdx) += i)
    Population(hosts, urls, byHost.map(_.toArray))
  }

  private val B32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  /** SHA-1 of `bytes` in RFC 4648 base32, the WARC payload-digest form */
  def sha1Base32(md: MessageDigest, bytes: Array[Byte]): String = {
    val h = md.digest(bytes)
    val sb = new StringBuilder
    var buffer = 0L
    var bits = 0
    h.foreach { b =>
      buffer = (buffer << 8) | (b & 0xff)
      bits += 8
      while (bits >= 5) { sb += B32(((buffer >> (bits - 5)) & 31).toInt); bits -= 5 }
    }
    if (bits > 0) sb += B32(((buffer << (5 - bits)) & 31).toInt)
    sb.toString
  }

  /** shared word list for HTML bodies: Zipf word frequencies give real
    * crawl HTML's ~4:1 deflate ratio. One fixed language for every seed,
    * so the deflate ratio, and with it the corpus's compressed size, does
    * not change from seed to seed. */
  final class Vocab {
    private val r = new Rng(mix(0, 2))
    val words: Array[String] = Array.fill(3000)(word(r, 1, 4))
    val zipf = new Zipf(words.length, 1.3)
  }

  private def htmlPage(r: Rng, v: Vocab, u: Url, targetBytes: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(targetBytes + 512)
    def words(n: Int): Unit = {
      var i = 0
      while (i < n) { if (i > 0) sb.append(' '); sb.append(v.words(v.zipf.sample(r))); i += 1 }
    }
    sb.append("<!DOCTYPE html>\n<html lang=\"en\"><head><meta charset=\"utf-8\"><title>")
    words(6)
    sb.append("</title><link rel=\"stylesheet\" href=\"/static/site.css\"></head>\n<body>")
    sb.append("<nav class=\"menu\"><ul>")
    (0 until 8).foreach { _ =>
      sb.append("<li><a href=\"/").append(v.words(v.zipf.sample(r))).append("\">")
      words(2); sb.append("</a></li>")
    }
    sb.append("</ul></nav>\n<main>")
    while (sb.length < targetBytes) {
      r.nextInt(6) match {
        case 0 => sb.append("<h2>"); words(5); sb.append("</h2>\n")
        case 1 =>
          sb.append("<p>"); words(20)
          sb.append(" <a href=\"/").append(v.words(v.zipf.sample(r))).append("/")
            .append(v.words(v.zipf.sample(r))).append(".html\">"); words(3)
          sb.append("</a> "); words(15); sb.append(".</p>\n")
        case _ => sb.append("<p>"); words(40); sb.append(".</p>\n")
      }
    }
    sb.append("</main><footer>")
    words(12)
    sb.append("</footer></body></html>\n")
    sb.toString.getBytes(UTF_8)
  }

  private def tinyBody(r: Rng, kind: Int, u: Url): (Int, String, Array[Byte], String) = kind match {
    case 0 => // redirect
      val to = u.url.replace("http://", "https://")
      (if (r.nextInt(2) == 0) 301 else 302, "text/html",
        s"<html><body>Moved <a href=\"$to\">here</a></body></html>".getBytes(UTF_8),
        s"Location: $to\r\n")
    case 1 => // not found
      val b = new StringBuilder("<html><head><title>404 Not Found</title></head><body><h1>Not Found</h1><p>")
      (0 until r.between(2, 30)).foreach(_ => b ++= word(r, 1, 3) += ' ')
      b ++= "</p></body></html>"
      (404, "text/html", b.toString.getBytes(UTF_8), "")
    case _ => // robots body, 2 KB or less
      val b = new StringBuilder("User-agent: *\n")
      while (b.length < r.between(100, 1900)) b ++= s"Disallow: /${word(r, 1, 3)}/${word(r, 1, 2)}\n"
      (200, "text/plain", b.toString.getBytes(UTF_8), "")
  }

  private def isoDate(epochSec: Long): String =
    java.time.Instant.ofEpochSecond(epochSec).toString // yyyy-MM-ddTHH:mm:ssZ

  private def ts14(epochSec: Long): String = isoDate(epochSec).replaceAll("[^0-9]", "").take(14)

  /** one record as one standalone JDK gzip member */
  private def member(bytes: Array[Byte], buf: ByteArrayOutputStream): Array[Byte] = {
    buf.reset()
    val gz = new GZIPOutputStream(buf, 8192)
    gz.write(bytes)
    gz.close()
    buf.toByteArray
  }

  private def warcRecord(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => head ++= k ++= ": " ++= v ++= "\r\n" }
    head ++= s"Content-Length: ${block.length}\r\n\r\n"
    val out = new ByteArrayOutputStream(head.length + block.length + 4)
    out.write(head.toString.getBytes(UTF_8))
    out.write(block)
    out.write("\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  private def uuid(r: Rng): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  private final case class FileOut(captures: Array[Capture], records: Long, bytes: Long, inflated: Long)

  /** write file `fi` of the corpus; independent of every other file, so
    * files generate in parallel */
  private def writeFile(
      seed: Long, shape: Shape, pop: Population, vocab: Vocab, dir: File, fi: Int): FileOut = {
    val r = new Rng(mix(seed, 1000 + fi))
    val name = f"${shape.name}-$fi%05d.warc.gz"
    val md = MessageDigest.getInstance("SHA-1")
    val gzBuf = new ByteArrayOutputStream(1 << 16)
    val out = new BufferedOutputStream(new FileOutputStream(new File(dir, name)), 1 << 16)
    val caps = Array.newBuilder[Capture]
    var offset = 0L
    var inflated = 0L
    // each file is one crawl session of a few hours, sessions spread over 2015-2020
    var clock = 1420070400L + fi.toLong * 86400L * 7 + r.nextInt(86400)
    def emit(rec: Array[Byte]): (Long, Long) = {
      val m = member(rec, gzBuf)
      out.write(m)
      val at = offset
      offset += m.length
      inflated += rec.length
      (at, m.length.toLong)
    }
    emit(warcRecord(Seq(
      "WARC-Type" -> "warcinfo", "WARC-Record-ID" -> s"<urn:uuid:${uuid(r)}>",
      "WARC-Date" -> isoDate(clock), "WARC-Filename" -> name,
      "Content-Type" -> "application/warc-fields"),
      s"software: graftbench generator\r\nformat: WARC File Format 1.0\r\n".getBytes(UTF_8)))
    // earlier responses of this file by URL index, for revisits
    val seen = scala.collection.mutable.HashMap.empty[Int, (String, String, Int, String)]
    val seenOrder = scala.collection.mutable.ArrayBuffer.empty[Int]
    val urlZipf = new Zipf(pop.urls.length, shape.urlZipf)
    val hotUrls = pop.byHost(0)
    // HTML payload sizes: the log-uniform 5..60 KB quantiles in a seeded
    // order, so every seed writes about the same bytes
    val htmlSizes = Array.tabulate(shape.recordsPerFile) { k =>
      math.exp(math.log(5000) + (k + 0.5) / shape.recordsPerFile * math.log(12.0)).toInt
    }
    if (shape.html) (htmlSizes.length - 1 to 1 by -1).foreach { k =>
      val j = r.nextInt(k + 1); val x = htmlSizes(k); htmlSizes(k) = htmlSizes(j); htmlSizes(j) = x
    }
    var records = 1L
    var i = 0
    while (i < shape.recordsPerFile) {
      clock += 1 + r.nextInt(20)
      val revisit = seenOrder.nonEmpty && r.nextDouble() < shape.revisitShare
      val ui =
        if (revisit) seenOrder(r.nextInt(seenOrder.length))
        else if (r.nextDouble() < shape.hotHostShare) hotUrls(r.nextInt(hotUrls.length))
        else urlZipf.sample(r)
      val u = pop.urls(ui)
      val date = isoDate(clock)
      val id = s"<urn:uuid:${uuid(r)}>"
      if (revisit) {
        val (prevDate, digest, status, mime) = seen(ui)
        val httpHead = s"HTTP/1.1 $status OK\r\nContent-Type: $mime\r\n\r\n".getBytes(UTF_8)
        val (at, len) = emit(warcRecord(Seq(
          "WARC-Type" -> "revisit", "WARC-Record-ID" -> id,
          "WARC-Target-URI" -> u.url, "WARC-Date" -> date,
          "WARC-Profile" -> "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
          "WARC-Refers-To-Target-URI" -> u.url, "WARC-Refers-To-Date" -> prevDate,
          "WARC-Payload-Digest" -> s"sha1:$digest",
          "Content-Type" -> "application/http; msgtype=response"), httpHead))
        caps += Capture(name, at, len, "revisit", u.url, u.urlkey, ts14(clock),
          "warc/revisit", status, digest)
      } else {
        val (status, mime, body, extra) =
          if (shape.html) (200, "text/html", htmlPage(r, vocab, u, htmlSizes(i)), "")
          else tinyBody(r, r.nextInt(3), u)
        val digest = sha1Base32(md, body)
        val reason = status match { case 200 => "OK"; case 301 => "Moved Permanently"; case 302 => "Found"; case _ => "Not Found" }
        val http = new ByteArrayOutputStream(body.length + 256)
        http.write(s"HTTP/1.1 $status $reason\r\nContent-Type: $mime\r\n$extra".getBytes(UTF_8))
        http.write(s"Content-Length: ${body.length}\r\nServer: graftbench\r\n\r\n".getBytes(UTF_8))
        http.write(body)
        val (at, len) = emit(warcRecord(Seq(
          "WARC-Type" -> "response", "WARC-Record-ID" -> id,
          "WARC-Target-URI" -> u.url, "WARC-Date" -> date,
          "WARC-Payload-Digest" -> s"sha1:$digest",
          "Content-Type" -> "application/http; msgtype=response"), http.toByteArray))
        caps += Capture(name, at, len, "response", u.url, u.urlkey, ts14(clock), mime, status, digest)
        if (!seen.contains(ui)) seenOrder += ui
        seen(ui) = (date, digest, status, mime)
      }
      records += 1
      i += 1
    }
    out.close()
    FileOut(caps.result(), records, offset, inflated)
  }

  /** generate the corpus into `dir` (emptied first) with `threads` writers */
  def corpus(seed: Long, shape: Shape, dir: File, threads: Int): Corpus = {
    Files.deleteTree(dir)
    dir.mkdirs()
    val pop = population(seed, shape)
    val vocab = new Vocab
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = (0 until shape.files).map(fi =>
        pool.submit(() => writeFile(seed, shape, pop, vocab, dir, fi)))
      val outs = futs.map(_.get())
      Corpus(dir, (0 until shape.files).map(fi => f"${shape.name}-$fi%05d.warc.gz"),
        outs.flatMap(_.captures).toArray, outs.map(_.records).sum,
        outs.map(_.bytes).sum, outs.map(_.inflated).sum)
    } finally pool.shutdown()
  }
}
