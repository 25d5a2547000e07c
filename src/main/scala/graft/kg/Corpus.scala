package graft.kg

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One Common-Crawl-style page (BASELINE.json input_hint schema). */
final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte],
                      text: String, lang: String)

/** Alias-dictionary row: normalized surface form -> entity id. Shared
  * aliases (2+ entity ids) are the duplicate-entity fixture that CC must
  * merge (FIXTURES.md §2).
  */
final case class AliasRow(alias: String, entity_id: String)

/** Deterministic synthetic web corpus, seeded from the driver's
  * documents.parquet (TESTDATA.md) — no wall-clock, no randomness, no
  * external data. Every planted fact is pure `doc_id` arithmetic so an
  * independent SQL oracle can recompute the expected mentions, triples
  * and canonical entity assignment without running the pipeline.
  *
  * Plantings per document i (entity space E=1000, canonical groups
  * {g, g+800} for g < 200):
  *  - triple sentence: subject s = i mod 1000, object o = (7i+3) mod
  *    1000, predicate p = i mod 5; subject surface case-variant
  *    v = i mod 3 (exact / UPPER / "The "-prefixed), object variant
  *    (i+1) mod 3;
  *  - Zipf head-entity skew: i mod 100 < 30 adds a mention of entity 0
  *    (FIXTURES.md §2 skew fixture);
  *  - ambiguous shared alias: i mod 10 == 7 mentions "shared widget g",
  *    g = i mod 100 — an alias owned by BOTH e{g} and e{g+800};
  *  - near-duplicate aliases: i mod 10 == 3 / 9 mention the long / short
  *    form of "alpha{h} beta{h} holdings incorporated|inc", h = 100 +
  *    i mod 100 — owned by e{h} / e{h+800}, linked only through
  *    LSH/blocking + Jaccard verification;
  *  - an entity-escape paragraph with &, <, and non-ASCII chars to
  *    exercise the HTML decoder.
  */
object Corpus {

  val E = 1000
  val DupGroups = 200

  val predicates: Vector[(String, String)] = Vector(
    "works_for" -> "works for",
    "located_in" -> "is located in",
    "part_of" -> "is part of",
    "founded" -> "founded",
    "acquired" -> "acquired")

  def entityId(k: Int): String = f"e$k%04d"
  def canonicalOf(k: Int): Int = if (k >= E - DupGroups) k - (E - DupGroups) else k

  def surface(k: Int, variant: Int): String = variant match {
    case 0 => s"Entity $k"
    case 1 => s"ENTITY $k"
    case _ => s"The Entity $k"
  }

  /** Ground-truth extracted text for document (i, srcText). */
  def groundTruthText(i: Long, srcText: String): String = {
    val s = (i % E).toInt
    val o = ((7 * i + 3) % E).toInt
    val p = (i % predicates.size).toInt
    val vS = (i % 3).toInt
    val vO = ((i + 1) % 3).toInt
    val sb = new StringBuilder(srcText)
    sb.append("\n\n").append(surface(s, vS)).append(' ')
      .append(predicates(p)._2).append(' ').append(surface(o, vO)).append('.')
    if (i % 100 < 30) sb.append("\n\nEntity 0 appears again.")
    if (i % 10 == 7) sb.append(s"\n\nEveryone knows shared widget ${i % 100}.")
    val h = 100 + (i % 100)
    if (i % 10 == 3)
      sb.append(s"\n\nAlpha$h beta$h holdings incorporated expanded.")
    if (i % 10 == 9)
      sb.append(s"\n\nThen alpha$h beta$h holdings inc announced.")
    sb.append(s"\n\nR&D <sec$i> café №${i % 7}.")
    sb.toString
  }

  def urlOf(i: Long): String = s"https://host${i % 50}.example/p/$i"

  /** warc_ts derived from i — epoch 2024-01-01 UTC plus i minutes. */
  def tsOf(i: Long): Timestamp = new Timestamp(1704067200000L + i * 60000L)

  /** Wrap ground-truth text into the noisy HTML page. `noise` > 0 adds
    * that many boilerplate filler words (bench corpora only — the real
    * Common-Crawl regime where markup/boilerplate dwarfs content and
    * Stage-1 extraction dominates the pipeline cost).
    */
  def renderHtml(i: Long, text: String, noise: Int = 0): String =
    new String(renderHtmlBytes(i, text, noise),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Render straight to bytes: the template + escaped text + hex noise
    * are pure ASCII by construction (escape() entity-encodes everything
    * above 126), so building the byte[] directly skips the String
    * round-trip and its UTF-8 re-encode — two full-page copies per page,
    * which at benchmark parallelism is measurable memory-bandwidth
    * pressure.
    */
  /** Unsynchronized growable byte buffer: ByteArrayOutputStream.write is
    * `synchronized` per byte, and with biased locking gone (JDK 15+)
    * every byte paid an uncontended CAS — measured ~4× the whole render
    * cost at bench weight (~120k writes/page → ~2.5 ms/page/core of pure
    * lock overhead).
    */
  private final class ByteSink(initial: Int) {
    private var buf = new Array[Byte](math.max(initial, 64))
    private var len = 0
    def write(b: Int): Unit = {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length << 1)
      buf(len) = b.toByte
      len += 1
    }
    /** Bulk-write protocol for hot loops: one capacity check buys
      * `extra` direct stores (`ensure` returns the backing array, the
      * caller writes from [[position]] and commits with [[setLen]]) —
      * the per-byte `write` pays a bounds+capacity check per CALL, which
      * at ~120k bytes/page is the remaining render cost.
      */
    def ensure(extra: Int): Array[Byte] = {
      var cap = buf.length
      while (len + extra > cap) cap <<= 1
      if (cap != buf.length) buf = java.util.Arrays.copyOf(buf, cap)
      buf
    }
    def position: Int = len
    def setLen(n: Int): Unit = len = n
    def toByteArray: Array[Byte] =
      if (len == buf.length) buf else java.util.Arrays.copyOf(buf, len)
  }

  private val HexDigits: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")

  /** Two-hex-digit pairs per byte value: HexPairs(2b) HexPairs(2b+1) is
    * the zero-padded hex of byte b — one table read replaces two digit
    * lookups + a shift in the render hot loop.
    */
  private val HexPairs: Array[Byte] = {
    val t = new Array[Byte](512)
    var b = 0
    while (b < 256) {
      t(2 * b) = HexDigits(b >> 4)
      t(2 * b + 1) = HexDigits(b & 15)
      b += 1
    }
    t
  }

  def renderHtmlBytes(i: Long, text: String, noise: Int = 0): Array[Byte] = {
    val out = new ByteSink(text.length + noise * 10 + 1024)
    def ascii(s: String): Unit = {
      var k = 0
      while (k < s.length) { out.write(s.charAt(k).toInt); k += 1 }
    }
    def longDigits(v: Long): Unit = ascii(java.lang.Long.toString(v))
    def escaped(s: String): Unit = {
      var k = 0
      while (k < s.length) {
        val c = s.charAt(k)
        if (c == '&') ascii("&amp;")
        else if (c == '<') ascii("&lt;")
        else if (c == '>') ascii("&gt;")
        else if (c > 126) { ascii("&#"); longDigits(c.toInt.toLong); out.write(';') }
        else out.write(c.toInt)
        k += 1
      }
    }
    ascii("<html><head><title>Doc "); longDigits(i)
    ascii("</title><script type=\"text/javascript\">var p="); longDigits(i)
    ascii(";if(p<0){document.write(\"<p>ghost</p>\");}</script><style>.m{color:#aaa}</style></head><body><!-- crawl ")
    longDigits(i)
    ascii(" --><nav><ul><li><a href=\"/home\">Home</a></li><li><a href=\"/about\">About</a></li></ul></nav>")
    if (noise > 0) {
      ascii("<aside class=\"recommended\"><ul><li>")
      var s = i * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
      var w = 0
      var lo = 0L
      var haveLo = false
      // ~97% of the page's bytes come out of this loop: each word is a
      // fixed-width 8-hex-digit token written straight into the backing
      // array under ONE capacity check, four 2-digit pair-table copies
      // per word, and ONE xorshift draw feeds TWO words (hi then lo
      // half). The noise is droppable boilerplate — only its byte
      // weight matters (the <aside> is a drop block, so it never
      // reaches extracted text, mentions or triples); the extraction
      // invariant extract(html) == ground-truth text is content-
      // independent and stays pinned by HtmlEquivalenceSpec + qkg1.
      while (w < noise) {
        val v: Long =
          if (haveLo) { haveLo = false; lo }
          else {
            s ^= s << 13; s ^= s >>> 7; s ^= s << 17
            lo = s & 0xffffffffL
            haveLo = true
            s >>> 32
          }
        val buf = out.ensure(10)
        var p = out.position
        var b2 = (((v >>> 24) & 0xff) << 1).toInt
        buf(p) = HexPairs(b2); buf(p + 1) = HexPairs(b2 + 1)
        b2 = (((v >>> 16) & 0xff) << 1).toInt
        buf(p + 2) = HexPairs(b2); buf(p + 3) = HexPairs(b2 + 1)
        b2 = (((v >>> 8) & 0xff) << 1).toInt
        buf(p + 4) = HexPairs(b2); buf(p + 5) = HexPairs(b2 + 1)
        b2 = ((v & 0xff) << 1).toInt
        buf(p + 6) = HexPairs(b2); buf(p + 7) = HexPairs(b2 + 1)
        p += 8
        w += 1
        if (w < noise) {
          if (w % 12 == 0) { buf(p) = '.'; p += 1 }
          buf(p) = ' '
          p += 1
        }
        out.setLen(p)
      }
      ascii("</li></ul></aside>")
    }
    ascii("<div id=\"main\"><article>")
    var from = 0
    while (from <= text.length) {
      val cut = text.indexOf("\n\n", from)
      val end = if (cut < 0) text.length else cut
      ascii("<p>"); escaped(text.substring(from, end)); ascii("</p>")
      if (cut < 0) from = text.length + 1 else from = cut + 2
    }
    ascii("</article></div><footer><p>&copy; host"); longDigits(i % 50)
    ascii(" &middot; all rights reserved</p></footer></body></html>")
    out.toByteArray
  }

  /** The pages table: one page per document row × `replicas` (replica r
    * shifts the id space by r×10000 to keep urls unique; used only to
    * scale the benchmark corpus). Narrow map after one small shuffle of
    * the source rows.
    *
    * `repOffset` shifts the replica index (page ids become
    * docId + (rep+repOffset)*10000): a later "day" of NEW urls over the
    * same entity space — the incremental-sync delta batch.
    *
    * `minParts` floors the task count of that shuffle (64 by default);
    * 0 leaves it to twice the session's default parallelism.
    */
  def pages(spark: SparkSession, sfDir: String, replicas: Int = 1,
            noise: Int = 0, repOffset: Int = 0,
            minParts: Int = 64): Dataset[Page] = {
    import spark.implicits._
    // The source table arrives as a single small file (one input split);
    // spread it across the executors BEFORE the heavy narrow work
    // (render/extract/mention chain) or the whole pipeline runs on one
    // core. One tiny shuffle of the source rows buys full parallelism
    // downstream — and the committed pages stage inherits the file count,
    // so every later stage reads a well-partitioned table.
    val par = math.max(spark.sparkContext.defaultParallelism * 2, minParts)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"), col("lang"))
      .repartition(par, col("doc_id"))
      .as[(Long, String, String)]
    val r = replicas
    val nz = noise
    val off = repOffset
    docs.flatMap { case (docId, src, lang) =>
      (0 until r).map { rep0 =>
        val rep = rep0 + off
        val i = docId + rep.toLong * 10000L
        val text = groundTruthText(i, src)
        Page(urlOf(i), tsOf(i), renderHtmlBytes(i, text, nz), text, lang)
      }
    }
  }

  /** The alias dictionary (broadcast side of the linker). */
  def aliasRows: Seq[AliasRow] = {
    val plain = (0 until E).map(k => AliasRow(s"entity $k", entityId(k)))
    val shared = (0 until 100).flatMap(g => Seq(
      AliasRow(s"shared widget $g", entityId(g)),
      AliasRow(s"shared widget $g", entityId(g + 800))))
    val nearDup = (100 until 200).flatMap(g => Seq(
      AliasRow(s"alpha$g beta$g holdings incorporated", entityId(g)),
      AliasRow(s"alpha$g beta$g holdings inc", entityId(g + 800))))
    plain ++ shared ++ nearDup
  }

  def aliasDict(spark: SparkSession): DataFrame = {
    import spark.implicits._
    aliasRows.toDF()
  }
}
