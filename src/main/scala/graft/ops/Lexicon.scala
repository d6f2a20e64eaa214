package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Lexicon machinery + frozen language-ID spec LANGID-4.
  *
  * Mirrors the reference's lexicon layer: named word collections with a
  * CONTENT-HASH pin so a run records exactly which dictionary produced
  * its labels (vkit/element/lexicon.py:62-134 stores a sha256 over the
  * collection), and a unicode-range interval table for char-class
  * lookups (vkit/utility/text/opt.py:50-99 uses an interval tree; at
  * this scale a sorted-array binary search is the same contract).
  *
  * LANGID-4 (frozen; the DuckDB oracle mirrors it EXACTLY — change both
  * together and re-pin the contentHash literal in the oracle):
  *   1. no tokens -> 'other'
  *   2. script presence, first match wins: hiragana/katakana -> 'ja',
  *      hangul -> 'ko', CJK ideographs -> 'zh', cyrillic -> 'ru',
  *      arabic -> 'ar', hebrew -> 'he', greek -> 'el',
  *      devanagari -> 'hi', thai -> 'th'
  *      (ja/ko precede zh because those scripts co-occur with kanji);
  *      the regex character classes are GENERATED from `charRanges` —
  *      one source of truth for script ranges
  *   3. else stopword-ratio argmax over {en, de, fr, es, it, pt, nl}
  *      (50 stopwords per language) on lowercased whitespace tokens;
  *      winner needs ratio >= 0.03; ties break in the fixed order
  *      en, de, fr, es, it, pt, nl; no winner -> 'other'
  *
  * v2 -> v3: stopword breadth 12 -> 50 per language, added it/pt/nl
  * (cross-language collisions like 'de'/'la'/'que' are resolved by the
  * argmax over full lists), script regexes now derived from the
  * interval table.
  * v3 -> v4: script-presence breadth — ar/he/el/hi branches over the
  * arabic/hebrew/greek/devanagari intervals the table already carried,
  * plus a new thai interval + branch (a large slice of any web crawl
  * previously classified 'other').
  */
object Lexicon {

  /** A named word set with a deterministic content hash. */
  final case class Lex(name: String, words: Vector[String]) {
    lazy val contentHash: String =
      Lexicon.sha256Hex(name + ":" + words.sorted.mkString(","))
  }

  /** Broadcast-friendly collection; `contentHash` pins the exact
    * dictionary contents a run used (goes into the correctness gate via
    * t_lang_id's lex_hash column).
    */
  final case class Collection(lexicons: Vector[Lex]) {
    def apply(name: String): Lex = lexicons.find(_.name == name).get
    lazy val contentHash: String =
      Lexicon.sha256Hex(lexicons.sortBy(_.name)
        .map(l => l.name + "=" + l.contentHash).mkString("|"))
  }

  def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** LANGID-3 stopword sets (frozen; lowercase; 50 per language —
    * standard high-frequency function words).
    */
  val stopwords: Vector[Lex] = Vector(
    Lex("en", Vector("the", "a", "an", "of", "and", "to", "in", "is",
      "it", "you", "that", "he", "was", "for", "on", "are", "as",
      "with", "his", "they", "i", "at", "be", "this", "have", "from",
      "or", "one", "had", "by", "not", "but", "what", "all", "were",
      "we", "when", "your", "can", "said", "there", "use", "each",
      "which", "she", "do", "how", "their", "if", "will")),
    Lex("de", Vector("der", "die", "das", "und", "ist", "ich", "nicht",
      "ein", "eine", "mit", "auf", "zu", "den", "dem", "des", "er",
      "sie", "es", "wir", "ihr", "aber", "auch", "als", "aus", "bei",
      "bin", "bis", "durch", "für", "gegen", "haben", "hat", "hatte",
      "im", "kann", "mein", "nach", "noch", "nur", "oder", "sein",
      "sind", "so", "über", "um", "von", "vor", "war", "wenn", "wie")),
    Lex("fr", Vector("le", "la", "les", "et", "un", "une", "est", "que",
      "pour", "dans", "ce", "pas", "de", "du", "des", "il", "elle",
      "nous", "vous", "ils", "je", "tu", "ne", "se", "son", "sa",
      "ses", "sur", "au", "aux", "avec", "par", "plus", "mais", "ou",
      "où", "qui", "quoi", "être", "avoir", "cette", "comme", "tout",
      "fait", "ont", "sont", "était", "même", "aussi", "bien")),
    Lex("es", Vector("el", "los", "las", "y", "es", "en", "por", "con",
      "para", "una", "como", "su", "de", "la", "que", "no", "a", "un",
      "se", "del", "lo", "más", "pero", "sus", "fue", "este", "esta",
      "son", "entre", "cuando", "muy", "sin", "sobre", "también", "me",
      "hasta", "hay", "donde", "quien", "desde", "todo", "nos",
      "durante", "todos", "uno", "ni", "contra", "otros", "ese",
      "eso")),
    Lex("it", Vector("il", "lo", "la", "i", "gli", "le", "di", "a",
      "da", "in", "con", "su", "per", "tra", "fra", "un", "uno", "una",
      "e", "è", "che", "chi", "cui", "non", "più", "quale", "quanto",
      "quanti", "quella", "questo", "questi", "si", "tutto", "tutti",
      "anche", "sono", "essere", "ho", "ha", "hanno", "come", "dove",
      "quando", "perché", "ma", "se", "noi", "voi", "loro", "mia")),
    Lex("pt", Vector("o", "a", "os", "as", "de", "do", "da", "dos",
      "das", "um", "uma", "e", "é", "que", "não", "em", "no", "na",
      "nos", "nas", "por", "para", "com", "se", "mais", "como", "mas",
      "foi", "ao", "ele", "ela", "seu", "sua", "ou", "ser", "quando",
      "muito", "há", "já", "está", "eu", "também", "só", "pelo",
      "pela", "até", "isso", "entre", "era", "depois")),
    Lex("nl", Vector("de", "het", "een", "en", "van", "ik", "te",
      "dat", "die", "in", "je", "niet", "zijn", "is", "was", "op",
      "aan", "met", "als", "voor", "er", "maar", "om", "hem", "dan",
      "zou", "of", "wat", "mijn", "men", "dit", "zo", "door", "over",
      "ze", "zich", "bij", "ook", "tot", "uit", "naar", "heeft",
      "hij", "nog", "kan", "mij", "wel", "geen", "worden", "haar")))

  /** Fixed argmax tie order (earlier wins). */
  val langOrder: Vector[String] =
    Vector("en", "de", "fr", "es", "it", "pt", "nl")

  val collection: Collection = Collection(stopwords)

  /** Unicode char-class intervals (closed ranges, sorted, disjoint) —
    * the reference's interval-lookup contract.
    */
  val charRanges: Array[(Int, Int, String)] = Array(
    (0x0030, 0x0039, "digit"),
    (0x0041, 0x005A, "latin"),
    (0x0061, 0x007A, "latin"),
    (0x00C0, 0x024F, "latin"),
    (0x0370, 0x03FF, "greek"),
    (0x0400, 0x04FF, "cyrillic"),
    (0x0590, 0x05FF, "hebrew"),
    (0x0600, 0x06FF, "arabic"),
    (0x0900, 0x097F, "devanagari"),
    (0x0E00, 0x0E7F, "thai"),
    (0x3040, 0x309F, "hiragana"),
    (0x30A0, 0x30FF, "katakana"),
    (0x4E00, 0x9FFF, "cjk"),
    (0xAC00, 0xD7AF, "hangul"),
    (0xFF01, 0xFF5E, "fullwidth"))

  /** Char class by binary search over the interval table; "other" when
    * no range matches.
    */
  def charClass(cp: Int): String = {
    var lo = 0
    var hi = charRanges.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val (a, b, cls) = charRanges(mid)
      if (cp < a) hi = mid - 1
      else if (cp > b) lo = mid + 1
      else return cls
    }
    "other"
  }

  /** Regex character class for the given char classes, GENERATED from
    * `charRanges` — langId's script-presence branch and any other
    * consumer share one source of truth for script ranges.
    */
  def rangesRegex(classes: String*): String =
    "[" + charRanges.filter(r => classes.contains(r._3))
      .map { case (a, b, _) => f"\\x{$a%04X}-\\x{$b%04X}" }
      .mkString + "]"

  /** Script-presence branches in decision order (frozen by LANGID-4;
    * the oracle hardcodes the same ranges/order independently).
    */
  val scriptBranches: Vector[(Vector[String], String)] = Vector(
    (Vector("hiragana", "katakana"), "ja"),
    (Vector("hangul"), "ko"),
    (Vector("cjk"), "zh"),
    (Vector("cyrillic"), "ru"),
    (Vector("arabic"), "ar"),
    (Vector("hebrew"), "he"),
    (Vector("greek"), "el"),
    (Vector("devanagari"), "hi"),
    (Vector("thai"), "th"))

  /** LANGID-4: the script-presence branches stay Catalyst `rlike`
    * tests over the original text (first match wins, in
    * `scriptBranches` order); everything else is ONE native pass over
    * `lower(text)` (`graft.functions.LangIdOps.argmax`: split on ' ',
    * one table lookup per token, the frozen ratio and tie rules). A
    * row with no tokens is all spaces, so no script branch can match
    * it and the argmax answers 'other' — rule 1 needs no branch of its
    * own. No UDF, no higher-order functions.
    */
  def langId(text: Column): Column = {
    val ((first, firstLang), rest) = (scriptBranches.head, scriptBranches.tail)
    rest.foldLeft(when(text.rlike(rangesRegex(first: _*)), firstLang)) {
      case (acc, (classes, lang)) =>
        acc.when(text.rlike(rangesRegex(classes: _*)), lang)
    }.otherwise(graft.functions.LangIdOps.stopwordArgmax(lower(text)))
  }
}
