package perfbench

import graft.schema.Turn
import graft.synth.SynthTranscripts
import graft.synth.SynthTranscripts.{Rng, mix, paragraph, sentence}
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** Seeded inputs. Every row is a pure function of (seed, indices), so
  * the content does not depend on how many tasks write it; the program
  * under test sees only finished files.
  */
object Gen {

  /** Share of non-tool turns whose payload is replaced by markdown. */
  val MdShare = 0.08

  /** Share of turns that also get a stale duplicate row (same key, one
    * hour older, different text): the rows `Job.run` must drop.
    */
  val StaleShare = 0.03

  def mdPayload(r: Rng): String = {
    val sb = new StringBuilder
    sb ++= "# " ++= sentence(r, 2, 5) ++= "\n\n" ++= paragraph(r)
    for (_ <- 0 until 2 + r.nextInt(3)) sb ++= "\n- " ++= sentence(r)
    if (r.nextInt(2) == 0)
      sb ++= "\n```\n" ++= sentence(r, 3, 6) ++= "\n```"
    sb ++= "\n\n" ++= paragraph(r)
    sb.toString
  }

  /** The synth kind mix (plain/html/pdf/tool) plus markdown. */
  def turn(seed: Long, conv: Long, t: Int): Turn = {
    val base = SynthTranscripts.makeTurn(seed, conv, t)
    val r = new Rng(mix(seed, conv, t.toLong, 0x3DL))
    if (base.role != "tool" && r.nextDouble() < MdShare)
      base.copy(text = mdPayload(r))
    else base
  }

  def stale(seed: Long, conv: Long, t: Int): Option[Turn] = {
    val r = new Rng(mix(seed, conv, t.toLong, 0x57A1EL))
    if (r.nextDouble() >= StaleShare) None
    else {
      val cur = SynthTranscripts.makeTurn(seed, conv, t)
      Some(Turn(cur.conv_id, t, "assistant",
        "stale draft. " + SynthTranscripts.plainPayload(r), "",
        new Timestamp(cur.ts.getTime - 3600000L)))
    }
  }

  final case class Transcripts(convs: Long, megaEvery: Int, megaTurns: Int) {
    def turnsIn(seed: Long, conv: Long): Int =
      SynthTranscripts.turnsPerConv(seed, conv, megaEvery, megaTurns)
  }

  /** Write conversations [first, first + t.convs) as parquet files of at
    * most `rowsPerFile` rows, from `tasks` writer tasks (each writes a
    * contiguous conversation range, in order). Returns (distinct turns,
    * stale rows).
    */
  def writeTranscripts(spark: SparkSession, t: Transcripts, seed: Long,
      first: Long, withStale: Boolean, rowsPerFile: Int, tasks: Int,
      path: String): (Long, Long) = {
    import spark.implicits._
    val sc = spark.sparkContext
    val turns: LongAccumulator = sc.longAccumulator("gen-turns")
    val stales: LongAccumulator = sc.longAccumulator("gen-stale")
    spark.range(first, first + t.convs, 1, tasks).as[Long].flatMap { c =>
      (0 until t.turnsIn(seed, c)).iterator.flatMap { i =>
        turns.add(1)
        val s = if (withStale) stale(seed, c, i) else None
        s.foreach(_ => stales.add(1))
        Iterator(turn(seed, c, i)) ++ s.iterator
      }
    }.write.mode("overwrite").option("maxRecordsPerFile", rowsPerFile)
      .parquet(path)
    (turns.value, stales.value)
  }

  // ---- curation corpus ---------------------------------------------

  final case class Doc(doc_id: Long, text: String)

  /** Document families planted in the curation corpus, by index range:
    * big exact-copy families (larger than the LSH bucket cap), exact
    * pairs, near-duplicate triples (root + 2 variants with 3 words
    * replaced each), contaminated singletons (a 20-word window of an
    * eval document), then clean singletons.
    */
  final case class Corpus(docs: Int, bigFamilies: Int, bigSize: Int,
      exactPairs: Int, nearTriples: Int, contaminated: Int,
      evalDocs: Int, evalWords: Int) {
    val bigEnd: Int = bigFamilies * bigSize
    val pairEnd: Int = bigEnd + 2 * exactPairs
    val nearEnd: Int = pairEnd + 3 * nearTriples
    val contamEnd: Int = nearEnd + contaminated
    require(contamEnd <= docs, "planted families exceed the corpus")

    /** Family root of doc i (itself for singletons). */
    def root(i: Int): Int =
      if (i < bigEnd) i - i % bigSize
      else if (i < pairEnd) i - (i - bigEnd) % 2
      else if (i < nearEnd) i - (i - pairEnd) % 3
      else i

    /** Planted duplicate pairs (root, member). */
    def dupPairs: Seq[(Long, Long)] =
      (0 until nearEnd).filter(i => root(i) != i)
        .map(i => (root(i).toLong, i.toLong))

    def contaminatedIds: Range = nearEnd until contamEnd

    /** Word 13-grams of the eval set; the Bloom blob is sized from it. */
    def evalGrams: Long = evalDocs.toLong * (evalWords - 12)
  }

  val NGram = 13

  private val pii = Vector("contact %s@example.org today",
    "server 10.%d.%d.%d answered", "call 555-%03d-%04d now")

  def vocab(seed: Long, n: Int): Array[String] = {
    val r = new Rng(mix(seed, 0x70CABL))
    val letters = "etaoinshrdlcumwfgypbvkjxqz"
    Array.fill(n) {
      val len = 3 + r.nextInt(7)
      (0 until len).map(_ => letters.charAt(
        math.min(r.nextInt(26), r.nextInt(26)))).mkString
    }
  }

  def words(r: Rng, v: Array[String], stop: IndexedSeq[String],
      n: Int): Array[String] =
    Array.fill(n)(if (r.nextDouble() < 0.35) stop(r.nextInt(stop.length))
      else v(r.nextInt(v.length)))

  def evalWords(seed: Long, c: Corpus, v: Array[String],
      stop: IndexedSeq[String], e: Int): Array[String] =
    words(new Rng(mix(seed, e.toLong, 0xE7A1L)), v, stop, c.evalWords)

  def doc(seed: Long, c: Corpus, v: Array[String],
      en: IndexedSeq[String], de: IndexedSeq[String], i: Int): Doc = {
    val root = c.root(i)
    val r = new Rng(mix(seed, root.toLong, 0xD0CL))
    val stop = if (r.nextDouble() < 0.08) de else en
    val ws = words(r, v, stop, 120 + r.nextInt(60))
    val contaminated = i >= c.nearEnd && i < c.contamEnd
    if (!contaminated && r.nextDouble() < 0.06) {
      val at = r.nextInt(ws.length)
      val fmt = pii(r.nextInt(pii.length))
      ws(at) = fmt match {
        case f if f.contains("@") => f.format(ws(at))
        case f if f.startsWith("server") =>
          f.format(r.nextInt(256), r.nextInt(256), r.nextInt(256))
        case f => f.format(r.nextInt(1000), r.nextInt(10000))
      }
    }
    if (i >= c.pairEnd && i < c.nearEnd && i != root) {
      val rv = new Rng(mix(seed, i.toLong, 0x7A2L))
      for (_ <- 0 until 3) ws(rv.nextInt(ws.length)) = v(rv.nextInt(v.length))
    }
    if (contaminated) {
      val ev = evalWords(seed, c, v, en, r.nextInt(c.evalDocs))
      val from = r.nextInt(ev.length - 20)
      val at = r.nextInt(ws.length - 20)
      System.arraycopy(ev, from, ws, at, 20)
    }
    Doc(i.toLong, ws.mkString(" "))
  }

  /** Corpus and eval set, each as ONE parquet file (one writer task). */
  def writeCorpus(spark: SparkSession, c: Corpus, seed: Long,
      docsPath: String, evalPath: String): Unit = {
    import spark.implicits._
    val v = vocab(seed, 6000)
    val en = graft.ops.Lexicon.collection("en").words
    val de = graft.ops.Lexicon.collection("de").words
    spark.range(0, c.docs, 1, 1).as[Long]
      .map(i => doc(seed, c, v, en, de, i.toInt))
      .write.mode("overwrite").parquet(docsPath)
    spark.range(0, c.evalDocs, 1, 1).as[Long]
      .map(e => Doc(e, evalWords(seed, c, v, en, e.toInt).mkString(" ")))
      .write.mode("overwrite").parquet(evalPath)
  }
}
