package graft.ops

import graft.pipe.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class LexiconSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("content hash is deterministic and order-insensitive") {
    val a = Lexicon.Lex("x", Vector("b", "a"))
    val b = Lexicon.Lex("x", Vector("a", "b"))
    assert(a.contentHash == b.contentHash)
    assert(a.contentHash != Lexicon.Lex("x", Vector("a", "c")).contentHash)
    // the pinned collection hash the t_lang_id oracle hardcodes
    assert(Lexicon.collection.contentHash ==
      "f63b9a4141b95e512ff38293c887eafaf6dbb3ebb7eddf9a274f48fc9bf173d7")
  }

  test("LANGID-4 lists are 50 distinct lowercase words per language") {
    assert(Lexicon.langOrder ==
      Vector("en", "de", "fr", "es", "it", "pt", "nl"))
    for (l <- Lexicon.stopwords) {
      assert(l.words.length == 50, l.name)
      assert(l.words.distinct.length == 50, l.name)
      assert(l.words.forall(w => w == w.toLowerCase), l.name)
    }
  }

  test("script regexes are generated from the interval table") {
    assert(Lexicon.rangesRegex("hangul") == "[\\x{AC00}-\\x{D7AF}]")
    assert(Lexicon.rangesRegex("hiragana", "katakana") ==
      "[\\x{3040}-\\x{309F}\\x{30A0}-\\x{30FF}]")
  }

  test("char classes via interval search") {
    assert(Lexicon.charClass('a') == "latin")
    assert(Lexicon.charClass('Z') == "latin")
    assert(Lexicon.charClass('é') == "latin")
    assert(Lexicon.charClass('7') == "digit")
    assert(Lexicon.charClass(0x4E2D) == "cjk")
    assert(Lexicon.charClass(0x3042) == "hiragana")
    assert(Lexicon.charClass(0x30A2) == "katakana")
    assert(Lexicon.charClass(0xAC00) == "hangul")
    assert(Lexicon.charClass(0x0414) == "cyrillic")
    assert(Lexicon.charClass(0x03B1) == "greek")
    assert(Lexicon.charClass(0xFF21) == "fullwidth")
    assert(Lexicon.charClass(' ') == "other")
  }

  test("LANGID-4 classifies scripts and all 7 stopword languages") {
    import spark.implicits._
    val samples = Seq(
      (1L, "the cat sat on the mat and it was happy to be there"),
      (2L, "der hund ist nicht mit der katze auf dem sofa"),
      (3L, "le chat est dans la maison pour la nuit ce soir"),
      (4L, "los gatos y los perros en la casa por la noche"),
      (5L, "il gatto è sopra il tavolo e non vuole scendere perché " +
        "ha paura"), // it
      (6L, "o menino foi para a escola com a sua mochila e não " +
        "voltou cedo"), // pt
      (7L, "de kinderen spelen in het park met een bal en zijn erg " +
        "blij"), // nl
      (8L, "日本語のテキストです"), // kana -> ja
      (9L, "한국어 텍스트입니다"), // hangul -> ko
      (10L, "中文文本在这里"), // ideographs only -> zh
      (11L, "русский текст здесь"), // cyrillic -> ru
      (12L, "zzz qqq xxx www yyy"), // no stopwords -> other
      (13L, "   "), // no tokens -> other
      (14L, "هذا نص عربي"), // arabic -> ar
      (15L, "זהו טקסט בעברית"), // hebrew -> he
      (16L, "ελληνικό κείμενο εδώ"), // greek -> el
      (17L, "यह हिंदी पाठ है"), // devanagari -> hi
      (18L, "ข้อความภาษาไทย")) // thai -> th
    val out = samples.toDF("id", "text")
      .select($"id", Lexicon.langId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "it", 6L -> "pt", 7L -> "nl", 8L -> "ja", 9L -> "ko",
      10L -> "zh", 11L -> "ru", 12L -> "other", 13L -> "other",
      14L -> "ar", 15L -> "he", 16L -> "el", 17L -> "hi", 18L -> "th"))
  }

  test("LANGID-4 script branches are generated from charRanges (one " +
    "source of truth)") {
    // every script branch's classes exist in the interval table, and
    // the thai interval added in v4 resolves via charClass
    val classes = Lexicon.charRanges.map(_._3).toSet
    for ((cs, _) <- Lexicon.scriptBranches; c <- cs)
      assert(classes.contains(c), c)
    assert(Lexicon.charClass(0x0E01) == "thai") // ก
    assert(Lexicon.charClass(0x0627) == "arabic") // ا
    assert(Lexicon.charClass(0x05D0) == "hebrew") // א
    assert(Lexicon.charClass(0x0915) == "devanagari") // क
  }

  test("LANGID-4: the one-pass kernel equals the retired Column " +
    "expression on 24k random rows (nulls, blanks, tabs, space runs, " +
    "uppercase non-ASCII, every stopword, every script)") {
    import spark.implicits._
    val r = new scala.util.Random(41)
    val stop = Lexicon.stopwords.flatMap(_.words).distinct
    val scripts = Seq("の", "テ", "한", "中", "д", "ع", "ע", "λ", "ह", "ก")
    val other = Seq("zzz", "qqq", "cat", "İ", "É", "İL", "ÉTAIT", "DER",
      "The", "a\tthe", "the\t", "\t", "x1", "über", "ÜBER", "même",
      "MÊME", "é", "è", "ça")
    val seps = Seq(" ", " ", " ", "  ", "   ", "\t", " \t ")
    def token(pStop: Double): String = {
      val u = r.nextDouble()
      if (u < 0.01) scripts(r.nextInt(scripts.length))
      else if (u < 0.01 + pStop) {
        val w = stop(r.nextInt(stop.length))
        if (r.nextInt(10) == 0) w.toUpperCase else w
      } else other(r.nextInt(other.length))
    }
    val special = Seq[String](null, "", " ", "   ", "\t", " \t ", "İ",
      "É É", "THE", "the", "de", "  de  la  ")
    val random = (1 to 24000).map { _ =>
      val pStop = Seq(0.0, 0.02, 0.05, 0.2, 0.6)(r.nextInt(5))
      val n = r.nextInt(60)
      val lead = if (r.nextInt(8) == 0) seps(r.nextInt(seps.length)) else ""
      lead + (0 until n).map(_ => token(pStop))
        .map(_ + seps(r.nextInt(seps.length))).mkString
    }
    val rows = (special ++ random ++ stop ++ scripts).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val out = rows.toDF("id", "text")
      .select($"id", Lexicon.langId($"text").as("got"),
        LexiconSpec.retiredLangId($"text").as("want"))
      .as[(Long, String, String)].collect()
    assert(out.length == rows.length)
    val bad = out.filter(o => o._2 != o._3)
    assert(bad.isEmpty, bad.take(5).map(b =>
      s"${b._1}: '${rows(b._1.toInt)._2}' got ${b._2} want ${b._3}")
      .mkString("; "))
    // every decision of LANGID-4 is exercised
    assert(out.map(_._3).toSet == (Lexicon.langOrder ++
      Lexicon.scriptBranches.map(_._2) :+ "other").toSet)
    assert(out.head._2 == "other", "null text")
  }
}

object LexiconSpec {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import Lexicon._

  /** The LANGID-4 Column expression `Lexicon.langId` replaced: kept as
    * the reference the native kernel must equal row for row.
    */
  def retiredLangId(text: Column): Column = {
    val toks = filter(split(lower(text), " "), x => x =!= lit(""))
    val total = greatest(size(toks), lit(1)).cast("double")
    def ratio(lex: Lex): Column = {
      val arr = array(lex.words.map(lit): _*)
      size(filter(toks, x => array_contains(arr, x)))
        .cast("double") / total
    }
    val r = langOrder.map(l => ratio(collection(l)))
    val base = scriptBranches.foldLeft(
      when(size(toks) === 0, "other")) { case (acc, (classes, lang)) =>
      acc.when(text.rlike(rangesRegex(classes: _*)), lang)
    }
    langOrder.indices.foldLeft(base) { (acc, i) =>
      val wins = (i + 1 until langOrder.length)
        .map(j => r(i) >= r(j))
        .foldLeft(r(i) >= 0.03)(_ && _)
      acc.when(wins, langOrder(i))
    }.otherwise("other")
  }
}
