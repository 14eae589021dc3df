package graftbench

/** One cdx-server lookup of the mix. */
sealed trait Op { def kind: String; def key: String }
final case class Closest(key: String, target: String) extends Op { def kind = "closest" }
final case class Exact(key: String) extends Op { def kind = "exact" }
final case class HostQ(key: String) extends Op { def kind = "host" }
final case class PrefixQ(key: String) extends Op { def kind = "prefix" }

/** One answer row as the server returns it: (urlkey, ts, json). */
final case class Row3(urlkey: String, ts: String, json: String)

/** Expected lookup answers from the generator's capture list, with plain
  * Scala collections only. */
final class Oracle(captures: Array[Capture]) {
  private val byKey: Map[String, Array[Capture]] = captures.groupBy(_.urlkey)
  // all generated keys are ASCII, so String order is the UTF-8 byte order
  val keys: Array[String] = byKey.keys.toArray.sorted

  def exact(k: String): Array[Capture] = byKey.getOrElse(k, Array.empty)

  def withPrefix(p: String): Array[Capture] = {
    var lo = java.util.Arrays.binarySearch(keys.asInstanceOf[Array[AnyRef]], p)
    if (lo < 0) lo = -lo - 1
    val out = Array.newBuilder[Capture]
    while (lo < keys.length && keys(lo).startsWith(p)) { out ++= byKey(keys(lo)); lo += 1 }
    out.result()
  }

  def expected(op: Op): Array[Capture] = op match {
    case Exact(k) => exact(k)
    case Closest(k, t) =>
      val cs = exact(k)
      if (cs.isEmpty) cs
      else {
        val tt = Oracle.epoch(t)
        val best = cs.map(c => (math.abs(Oracle.epoch(c.ts) - tt), c.ts)).min
        cs.filter(c => (math.abs(Oracle.epoch(c.ts) - tt), c.ts) == best)
      }
    case HostQ(h) => withPrefix(h + ")")
    case PrefixQ(p) => withPrefix(p)
  }

  /** Check one answer. Rows are compared as multisets where the method
    * leaves order open (equal sort keys); the order the method fixes is
    * checked separately. */
  def check(op: Op, rows: Array[Row3]): Unit = {
    val exp = expected(op)
    def fail(msg: String) = throw new CheckFailed(s"lookup $op: $msg")
    op match {
      case _: Closest =>
        // closest(k=1): one row, any of the captures tied on (distance, ts)
        if (exp.isEmpty) { if (rows.nonEmpty) fail(s"expected no rows, got ${rows.length}") }
        else {
          if (rows.length != 1) fail(s"expected 1 row, got ${rows.length}")
          if (!exp.exists(c => Oracle.matches(rows(0), c))) fail(s"row ${rows(0)} is not a closest capture")
        }
      case _ =>
        if (rows.length != exp.length) fail(s"expected ${exp.length} rows, got ${rows.length}")
        val sortKey: Row3 => String =
          if (op.isInstanceOf[Exact]) r => r.ts else r => r.urlkey + " " + r.ts
        rows.sliding(2).foreach { case Array(a, b) =>
          if (sortKey(a) > sortKey(b)) fail(s"rows out of order: $a before $b")
          case _ =>
        }
        val got = rows.map(r => Oracle.canon(r.urlkey, r.ts, Json.flat(r.json))).sorted
        val want = exp.map(c => Oracle.canon(c.urlkey, c.ts, Oracle.fields(c))).sorted
        if (!got.sameElements(want)) fail("rows differ from the capture list")
    }
  }
}

object Oracle {
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")
    .withZone(java.time.ZoneOffset.UTC)
  def epoch(ts14: String): Long =
    java.time.LocalDateTime.parse(ts14, fmt).toEpochSecond(java.time.ZoneOffset.UTC)

  /** the JSON fields a CDX line must carry for capture `c` */
  def fields(c: Capture): Map[String, String] = Map(
    "url" -> c.url, "mime" -> c.mime, "status" -> c.status.toString,
    "digest" -> c.digest, "length" -> c.length.toString,
    "offset" -> c.offset.toString, "filename" -> c.file)

  /** canonical text of a row restricted to the checked fields */
  def canon(urlkey: String, ts: String, f: Map[String, String]): String =
    (urlkey +: ts +: Seq("url", "mime", "status", "digest", "length", "offset", "filename")
      .map(k => k + "=" + f.getOrElse(k, "<missing>"))).mkString("\u0001")

  def matches(r: Row3, c: Capture): Boolean =
    canon(r.urlkey, r.ts, Json.flat(r.json)) == canon(c.urlkey, c.ts, fields(c))

  /** Seeded lookup stream: 60% closest(k=1), 25% exact, 15% host/prefix
    * in a fixed cycle; keys by Zipf popularity, ranked like their capture
    * counts (much-crawled pages are also much-replayed), so every seed
    * asks for answers of the same sizes; a few percent absent keys. Host
    * and prefix targets hold `minRows` to `maxRows` captures. */
  def ops(seed: Long, oracle: Oracle, pop: Gen.Population, n: Int,
      minRows: Int = 5, maxRows: Int = 200): Array[Op] = {
    val r = new Gen.Rng(Gen.mix(seed, 77))
    val keys = oracle.keys.map(k => (k, oracle.exact(k).length, r.nextLong()))
      .sortBy { case (_, n, tie) => (-n, tie) }.map(_._1)
    val zipf = new Gen.Zipf(keys.length, 0.99)
    val hostSizes = pop.hosts.map(h => h.surt -> oracle.withPrefix(h.surt + ")").length)
    val banded = hostSizes.filter { case (_, c) => c >= minRows && c <= maxRows }.map(_._1)
    // a corpus too small for the band falls back to every captured host
    val smallHosts = if (banded.nonEmpty) banded else hostSizes.filter(_._2 > 0).map(_._1)
    def presentKey(): String = keys(zipf.sample(r))
    def key(): String =
      if (r.nextInt(100) < 4) Gen.absentKey(r, pop.hosts(r.nextInt(pop.hosts.length)))
      else presentKey()
    def prefixOf(k: String): String = {
      // host + path segments, deepened until the answer fits maxRows
      val cut = k.indexOf(')') + 1
      var p = k.substring(0, math.min(k.length, cut + 1))
      var next = k.indexOf('/', cut + 1)
      while (oracle.withPrefix(p).length > maxRows && next > 0) {
        p = k.substring(0, next + 1)
        next = k.indexOf('/', next + 1)
      }
      if (oracle.withPrefix(p).length > maxRows) k else p
    }
    // a fixed cycle of kinds, so every run and seed sends the same mix
    val cycle = "CCECCECHCECCPCECCHEC"
    Array.tabulate(n) { i =>
      cycle(i % cycle.length) match {
        case 'C' =>
          val t = 1420070400L + (r.nextDouble() * 6 * 365 * 86400).toLong
          Closest(key(), java.time.Instant.ofEpochSecond(t).toString.replaceAll("[^0-9]", "").take(14))
        case 'E' => Exact(key())
        case 'H' => HostQ(smallHosts(r.nextInt(smallHosts.length)))
        case _ => PrefixQ(prefixOf(presentKey()))
      }
    }
  }
}

/** Minimal parser for the flat string-valued JSON objects of CDXJ lines. */
object Json {
  def flat(s: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s.charAt(i) != c) throw new CheckFailed(s"bad json at $i: $s")
      i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          s.charAt(i) match {
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case other => sb += other
          }
        } else sb += c
        i += 1
      }
      expect('"')
      sb.toString
    }
    expect('{')
    ws()
    if (i < s.length && s.charAt(i) == '}') return Map.empty
    var more = true
    while (more) {
      val k = str()
      expect(':')
      out += k -> str()
      ws()
      if (i < s.length && s.charAt(i) == ',') i += 1 else more = false
    }
    expect('}')
    out.result()
  }
}
