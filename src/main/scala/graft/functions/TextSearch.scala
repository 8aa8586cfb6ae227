package graft.functions

import graft.pgwire.PgException

/** PostgreSQL full-text search (`tsvector`/`tsquery`, pg docs ch. 12)
  * over pg's canonical TEXT representations — the same
  * out-of-scope-closure pattern as geo and ranges: the reference has
  * no text-search module, so this is parity-PLUS surface built from
  * the public pg docs and the public Snowball English (Porter2)
  * stemming algorithm (snowballstem.org), with behavior pinned
  * against the live PostgreSQL 15 in the container:
  * 2980 `ts_lexize('english_stem', …)` vocabulary pairs and a
  * to_tsvector/tsquery/rank battery (PgParitySpec sweep-14).
  *
  * Model: a tsvector VALUE is its canonical text (`'bar':3 'foo':2`
  * — lexemes sorted, positions ascending with optional A/B/C weight
  * marks), a tsquery its canonical text (`'fat' & !'rat'`). All
  * functions are pure per-value string computations — map-side at
  * any scale, not a 100 TB shuffle path.
  */
object TextSearch {

  // ========================================================================
  // Snowball English stemmer (Porter2) — public algorithm,
  // snowballstem.org/algorithms/english/stemmer.html; verified
  // against live pg 15 ts_lexize('english_stem', w) on 2980 words.
  // ========================================================================

  private val vowels = "aeiouy".toSet

  private def isV(c: Char): Boolean = vowels.contains(c) // 'Y' marked = consonant

  private val doubles = Set("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
  private val liEnding = "cdeghkmnrt".toSet

  private val exceptions1: Map[String, String] = Map(
    "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
    "tying" -> "tie", "idly" -> "idl", "gently" -> "gentl", "ugly" -> "ugli",
    "early" -> "earli", "only" -> "onli", "singly" -> "singl",
    "sky" -> "sky", "news" -> "news", "howe" -> "howe", "atlas" -> "atlas",
    "cosmos" -> "cosmos", "bias" -> "bias", "andes" -> "andes")

  private val exceptions2 = Set(
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed")

  /** Stem one lowercase word (pg english_stem). */
  def stem(word0: String): String = {
    if (word0.length <= 2) return word0
    var w = word0
    if (w.startsWith("'")) w = w.substring(1)
    exceptions1.get(w) match {
      case Some(s) => return s
      case None =>
    }
    if (w.length <= 2) return w
    // mark consonant y as 'Y': at start, or after a vowel
    val cs = w.toCharArray
    var i = 0
    while (i < cs.length) {
      if (cs(i) == 'y' && (i == 0 || isV(cs(i - 1)))) cs(i) = 'Y'
      i += 1
    }
    w = new String(cs)

    // R1 / R2 (gener-/commun-/arsen- special-cased per the spec)
    def regionAfter(s: String, from: Int): Int = {
      var j = from
      while (j < s.length - 1 && !(isV(s.charAt(j)) && !isV(s.charAt(j + 1)))) j += 1
      if (j >= s.length - 1) s.length else j + 2
    }
    var r1 =
      if (w.startsWith("gener") || w.startsWith("arsen")) 5
      else if (w.startsWith("commun")) 6
      else regionAfter(w, 0)
    var r2 = regionAfter(w, r1)

    def inR1(sufLen: Int): Boolean = w.length - sufLen >= r1
    def inR2(sufLen: Int): Boolean = w.length - sufLen >= r2
    def hasVowel(s: String): Boolean = s.exists(isV)

    /** Is there a short syllable ending at the word's last char? */
    def endsShortSyllable(s: String): Boolean = {
      val n = s.length
      if (n >= 3) {
        val c = s.charAt(n - 1); val v = s.charAt(n - 2); val p = s.charAt(n - 3)
        !isV(c) && c != 'w' && c != 'x' && c != 'Y' && isV(v) && !isV(p)
      } else n == 2 && isV(s.charAt(0)) && !isV(s.charAt(1))
    }
    def isShortWord(s: String): Boolean = r1 >= s.length && endsShortSyllable(s)

    // step 0: longest of 's'  's  '
    if (w.endsWith("'s'")) w = w.dropRight(3)
    else if (w.endsWith("'s")) w = w.dropRight(2)
    else if (w.endsWith("'")) w = w.dropRight(1)

    // step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ied") || w.endsWith("ies"))
      w = if (w.length > 4) w.dropRight(2) else w.dropRight(1)
    else if (w.endsWith("us") || w.endsWith("ss")) ()
    else if (w.endsWith("s") && w.length >= 2 &&
      w.substring(0, w.length - 2).exists(isV)) w = w.dropRight(1)

    if (exceptions2.contains(w)) return w.toLowerCase

    // step 1b
    val s1b = Seq("eedly", "ingly", "edly", "eed", "ing", "ed")
    s1b.find(w.endsWith) match {
      case Some(suf @ ("eed" | "eedly")) =>
        if (inR1(suf.length)) w = w.dropRight(suf.length) + "ee"
      case Some(suf) =>
        if (hasVowel(w.dropRight(suf.length))) {
          w = w.dropRight(suf.length)
          if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w += "e"
          else if (doubles.exists(w.endsWith)) w = w.dropRight(1)
          else if (isShortWord(w)) w += "e"
          r1 = if (w.startsWith("gener") || w.startsWith("arsen")) 5
            else if (w.startsWith("commun")) 6 else regionAfter(w, 0)
          r2 = regionAfter(w, r1)
        }
      case None =>
    }

    // step 1c: y → i after a non-vowel that isn't the first char
    if ((w.endsWith("y") || w.endsWith("Y")) && w.length > 2 &&
      !isV(w.charAt(w.length - 2)))
      w = w.dropRight(1) + "i"

    // step 2 (suffix must lie in R1)
    val s2: Seq[(String, String)] = Seq(
      "ization" -> "ize", "ational" -> "ate", "fulness" -> "ful",
      "ousness" -> "ous", "iveness" -> "ive", "tional" -> "tion",
      "biliti" -> "ble", "lessli" -> "less", "entli" -> "ent",
      "ation" -> "ate", "alism" -> "al", "aliti" -> "al", "ousli" -> "ous",
      "iviti" -> "ive", "fulli" -> "ful", "enci" -> "ence", "anci" -> "ance",
      "abli" -> "able", "izer" -> "ize", "ator" -> "ate", "alli" -> "al",
      "bli" -> "ble")
    s2.find { case (suf, _) => w.endsWith(suf) } match {
      case Some((suf, rep)) => if (inR1(suf.length)) w = w.dropRight(suf.length) + rep
      case None =>
        if (w.endsWith("ogi")) {
          if (inR1(3) && w.length >= 4 && w.charAt(w.length - 4) == 'l')
            w = w.dropRight(1)
        } else if (w.endsWith("li")) {
          if (inR1(2) && w.length >= 3 && liEnding.contains(w.charAt(w.length - 3)))
            w = w.dropRight(2)
        }
    }

    // step 3 (in R1; ative needs R2)
    val s3: Seq[(String, String)] = Seq(
      "ational" -> "ate", "tional" -> "tion", "alize" -> "al",
      "icate" -> "ic", "iciti" -> "ic", "ical" -> "ic",
      "ful" -> "", "ness" -> "")
    s3.find { case (suf, _) => w.endsWith(suf) } match {
      case Some((suf, rep)) => if (inR1(suf.length)) w = w.dropRight(suf.length) + rep
      case None =>
        if (w.endsWith("ative") && inR1(5) && inR2(5)) w = w.dropRight(5)
    }

    // step 4 (in R2)
    val s4 = Seq("ement", "ance", "ence", "able", "ible", "ment",
      "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
      "al", "er", "ic")
    s4.find(w.endsWith) match {
      case Some(suf) => if (inR2(suf.length)) w = w.dropRight(suf.length)
      case None =>
        if (w.endsWith("ion") && inR2(3) && w.length >= 4 &&
          (w.charAt(w.length - 4) == 's' || w.charAt(w.length - 4) == 't'))
          w = w.dropRight(3)
    }

    // step 5
    if (w.endsWith("e") &&
      (inR2(1) || (inR1(1) && !endsShortSyllable(w.dropRight(1)))))
      w = w.dropRight(1)
    else if (w.endsWith("l") && inR2(1) && w.length >= 2 && w.charAt(w.length - 2) == 'l')
      w = w.dropRight(1)

    w.toLowerCase
  }

  /** pg english stopword file (snowball english.stop — public). */
  val stopwords: Set[String] = Set(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "your", "yours", "yourself", "yourselves", "he", "him", "his",
    "himself", "she", "her", "hers", "herself", "it", "its", "itself",
    "they", "them", "their", "theirs", "themselves", "what", "which",
    "who", "whom", "this", "that", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had",
    "having", "do", "does", "did", "doing", "a", "an", "the", "and",
    "but", "if", "or", "because", "as", "until", "while", "of", "at",
    "by", "for", "with", "about", "against", "between", "into",
    "through", "during", "before", "after", "above", "below", "to",
    "from", "up", "down", "in", "out", "on", "off", "over", "under",
    "again", "further", "then", "once", "here", "there", "when",
    "where", "why", "how", "all", "any", "both", "each", "few", "more",
    "most", "other", "some", "such", "no", "nor", "not", "only", "own",
    "same", "so", "than", "too", "very", "s", "t", "can", "will",
    "just", "don", "should", "now")

  // ========================================================================
  // Tokenizer (pg default parser subset: words, numbers, hyphenated
  // compounds with parts, email/url/host/file — classes pinned
  // against the live to_tsvector battery)
  // ========================================================================

  /** One parsed token: lexeme text + whether the dictionary chain
    * should STEM it (word classes) or pass it through lowercased
    * (numbers, urls, emails, versions — pg's `simple` dictionary).
    */
  final case class Token(text: String, stemmable: Boolean)

  private def isLetter(c: Char): Boolean = Character.isLetter(c)
  private def isAlnum(c: Char): Boolean = Character.isLetterOrDigit(c)

  /** Tokenize with pg's position semantics: every emitted token
    * consumes one position; hyphenated compounds emit the whole
    * (position p) then each part (p+1 …); urls emit url, host,
    * url_path.
    */
  def tokenize(text: String): Seq[Token] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Token]
    val n = text.length
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (isAlnum(c) || (c == '/' && i + 1 < n && isAlnum(text.charAt(i + 1)))) {
        // protocol prefix (`https://`) is its own token class that the
        // config maps to nothing — skip it without consuming a position
        if (isLetter(c)) {
          var pj = i
          while (pj < n && isLetter(text.charAt(pj))) pj += 1
          if (pj + 2 < n && text.charAt(pj) == ':' && text.charAt(pj + 1) == '/' &&
            text.charAt(pj + 2) == '/') {
            i = pj + 3
          }
        }
        // candidate token start — scan the maximal alnum/./-/_/@/:// blob
        var j = i
        var sawAt = false
        var sawSlash = i < n && text.charAt(i) == '/'
        while (j < n && (isAlnum(text.charAt(j)) ||
          ((text.charAt(j) == '.' || text.charAt(j) == '-' || text.charAt(j) == '@' ||
            text.charAt(j) == '/') && j + 1 < n && isAlnum(text.charAt(j + 1))))) {
          if (text.charAt(j) == '@') sawAt = true
          if (text.charAt(j) == '/') sawSlash = true
          j += 1
        }
        val blob = text.substring(i, j)
        // empty blob: a protocol skip landed on a non-token char
        if (blob.nonEmpty) { emitBlob(out, blob, sawAt, sawSlash); i = j }
        else i += 1
      } else i += 1
    }
    out.toSeq
  }

  private def emitBlob(out: scala.collection.mutable.ArrayBuffer[Token],
      blob: String, sawAt: Boolean, sawSlash: Boolean): Unit = {
    if (sawAt && blob.count(_ == '@') == 1 && !sawSlash) {
      out += Token(blob.toLowerCase, stemmable = false) // email
      return
    }
    if (sawSlash) {
      // url (host/path) or file path — pg indexes url, host, url_path
      val slash = blob.indexOf('/')
      if (slash > 0 && blob.substring(0, slash).contains(".")) {
        val host = blob.substring(0, slash)
        out += Token(blob.toLowerCase, stemmable = false)         // url
        out += Token(host.toLowerCase, stemmable = false)         // host
        out += Token(blob.substring(slash).toLowerCase, stemmable = false) // url_path
      } else {
        out += Token(blob.toLowerCase, stemmable = false)         // file
      }
      return
    }
    if (blob.contains(".")) {
      if (blob.forall(ch => ch.isDigit || ch == '.')) {
        out += Token(blob, stemmable = false) // float / version
        return
      }
      if (blob.exists(_.isDigit) || blob.count(_ == '.') >= 1) {
        // host-like (example.com) or version-like (v2.0): single token
        out += Token(blob.toLowerCase, stemmable = false)
        return
      }
    }
    if (blob.contains("-")) {
      // hyphenated compound: whole (stemmable if wordy) then parts
      val parts = blob.split("-").filter(_.nonEmpty)
      val wordy = blob.forall(ch => isLetter(ch) || ch == '-')
      out += Token(blob.toLowerCase, stemmable = wordy)
      parts.foreach(p => emitSimple(out, p))
      return
    }
    emitSimple(out, blob)
  }

  private def emitSimple(out: scala.collection.mutable.ArrayBuffer[Token],
      tok: String): Unit =
    if (tok.forall(_.isDigit)) out += Token(tok, stemmable = false) // uint
    else if (tok.exists(_.isDigit)) out += Token(tok.toLowerCase, stemmable = false) // numword
    else out += Token(tok.toLowerCase, stemmable = true) // [ascii]word

  // ========================================================================
  // tsvector
  // ========================================================================

  /** (position, weight) — weight 0=D 1=C 2=B 3=A, rendered only when
    * non-D. Position cap 16383 like pg.
    */
  final case class Lexeme(positions: Vector[(Int, Int)])

  final case class TsVector(lex: scala.collection.immutable.SortedMap[String, Vector[(Int, Int)]]) {
    def render: String =
      lex.iterator.map { case (w, ps) =>
        val q = "'" + w.replace("'", "''") + "'"
        if (ps.isEmpty) q
        else q + ":" + ps.map { case (p, wt) =>
          p.toString + (wt match { case 3 => "A" case 2 => "B" case 1 => "C" case _ => "" })
        }.mkString(",")
      }.mkString(" ")
  }

  private def dictApply(config: String, t: Token): Option[String] = {
    val lower = t.text
    config match {
      case "simple" => Some(lower)
      case "english" =>
        if (t.stemmable) {
          if (stopwords.contains(lower)) None else Some(stem(lower))
        } else Some(lower)
      case other =>
        SnowballStems.byConfig(other) match {
          case Some((stop, stemFn)) =>
            if (t.stemmable) {
              if (stop.contains(lower)) None else Some(stemFn(lower))
            } else Some(lower)
          case None => throw PgException("42704",
            s"""text search configuration "$other" does not exist""")
        }
    }
  }

  def toTsVector(config: String, text: String): TsVector = {
    val toks = tokenize(text)
    // accumulate in a hash map and sort once at the end — per-token
    // immutable-SortedMap updates are the dominant cost on real
    // documents (positions arrive strictly increasing, so dedup is a
    // last-element check)
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[(Int, Int)]]()
    var pos = 0
    toks.foreach { t =>
      pos += 1
      val p = math.min(pos, 16383)
      dictApply(config, t).foreach { lexed =>
        if (lexed.nonEmpty) {
          var buf = m.get(lexed)
          if (buf == null) {
            buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
            m.put(lexed, buf)
          }
          if (buf.isEmpty || buf.last._1 != p) buf += ((p, 0))
        }
      }
    }
    val b = scala.collection.immutable.SortedMap.newBuilder[String, Vector[(Int, Int)]]
    m.forEach((k, v) => b += (k -> v.toVector))
    TsVector(b.result())
  }

  /** Per-thread parsed-vector memo: one row's operator chain parses
    * the same rendered vector once per op (`v::tsvector @@ …` × N) —
    * the memo stands in for ScalaUDF common-subexpression elimination.
    */
  private val vectorMemo: ThreadLocal[java.util.LinkedHashMap[String, TsVector]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[String, TsVector](32, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, TsVector]): Boolean = size > 32
      })

  def parseTsVector(s: String): TsVector = {
    val m = vectorMemo.get
    val hit = m.get(s)
    if (hit != null) return hit
    val v = parseTsVectorImpl(s)
    m.put(s, v)
    v
  }

  /** Parse a tsvector literal: `'fat':2,4A 'cat':3` (also bare
    * `fat cat`); lexemes sorted, positions deduped/sorted.
    */
  private def parseTsVectorImpl(s: String): TsVector = {
    var m = scala.collection.immutable.SortedMap.empty[String, Vector[(Int, Int)]]
    var i = 0
    val n = s.length
    def bad() = throw PgException("22P02", s"""syntax error in tsvector: "$s"""")
    while (i < n) {
      while (i < n && s.charAt(i).isWhitespace) i += 1
      if (i < n) {
        val sb = new java.lang.StringBuilder
        if (s.charAt(i) == '\'') {
          i += 1
          var closed = false
          while (i < n && !closed) {
            if (s.charAt(i) == '\'') {
              if (i + 1 < n && s.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
              else { closed = true; i += 1 }
            } else { sb.append(s.charAt(i)); i += 1 }
          }
          if (!closed) bad()
        } else {
          while (i < n && !s.charAt(i).isWhitespace && s.charAt(i) != ':') {
            sb.append(s.charAt(i)); i += 1
          }
        }
        val word = sb.toString
        if (word.isEmpty) bad()
        var ps = Vector.empty[(Int, Int)]
        if (i < n && s.charAt(i) == ':') {
          i += 1
          var done = false
          while (!done) {
            var p = 0
            if (i >= n || !s.charAt(i).isDigit) bad()
            while (i < n && s.charAt(i).isDigit) { p = p * 10 + (s.charAt(i) - '0'); i += 1 }
            var wt = 0
            if (i < n) s.charAt(i) match {
              case 'A' | 'a' => wt = 3; i += 1
              case 'B' | 'b' => wt = 2; i += 1
              case 'C' | 'c' => wt = 1; i += 1
              case 'D' | 'd' => wt = 0; i += 1
              case _ =>
            }
            ps = ps :+ ((math.min(p, 16383), wt))
            if (i < n && s.charAt(i) == ',') i += 1 else done = true
          }
        }
        val merged = (m.getOrElse(word, Vector.empty) ++ ps).distinct.sortBy(x => (x._1, -x._2))
        m = m.updated(word, merged.map(_._1).distinct.map(p => merged.find(_._1 == p).get))
      }
    }
    TsVector(m)
  }

  // ========================================================================
  // tsquery
  // ========================================================================

  sealed trait TsQ
  final case class QVal(lex: String, prefix: Boolean, weights: String) extends TsQ
  final case class QAnd(l: TsQ, r: TsQ) extends TsQ
  final case class QOr(l: TsQ, r: TsQ) extends TsQ
  final case class QNot(q: TsQ) extends TsQ
  final case class QPhrase(l: TsQ, r: TsQ, dist: Int) extends TsQ

  /** Parse pg tsquery syntax: `&` `|` `!` `<->` `<N>` parens and
    * `word:*AB` flags, with pg's precedence (| < & < <-> < !).
    */
  def parseTsQuery(config: String, s: String, lexize: Boolean): Option[TsQ] = {
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    def bad() = throw PgException("22P02", s"""syntax error in tsquery: "$s"""")
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '&' || c == '|' || c == '!' || c == '(' || c == ')') { toks += c.toString; i += 1 }
      else if (c == '<') {
        val close = s.indexOf('>', i)
        if (close < 0) bad()
        toks += s.substring(i, close + 1); i = close + 1
      } else if (c == '\'') {
        val sb = new java.lang.StringBuilder("'")
        i += 1
        var closed = false
        while (i < n && !closed) {
          if (s.charAt(i) == '\'') {
            if (i + 1 < n && s.charAt(i + 1) == '\'') { sb.append('\''); i += 2 }
            else { closed = true; i += 1 }
          } else { sb.append(s.charAt(i)); i += 1 }
        }
        if (!closed) bad()
        // optional :*weights
        if (i < n && s.charAt(i) == ':') {
          sb.append(':'); i += 1
          while (i < n && (s.charAt(i) == '*' || "ABCDabcd".indexOf(s.charAt(i)) >= 0)) {
            sb.append(s.charAt(i)); i += 1
          }
        }
        toks += sb.toString
      } else {
        val sb = new java.lang.StringBuilder
        while (i < n && !s.charAt(i).isWhitespace &&
          "&|!()<'".indexOf(s.charAt(i)) < 0) { sb.append(s.charAt(i)); i += 1 }
        toks += sb.toString
      }
    }
    if (toks.isEmpty) return None // empty input → empty tsquery
    var p = 0
    def peek: String = if (p < toks.length) toks(p) else ""
    def take(): String = { val t = peek; p += 1; t }
    // precedence: or < and < phrase < not
    def parseOr(): Option[TsQ] = {
      var l = parseAnd()
      while (peek == "|") { take(); val r = parseAnd()
        l = (l, r) match {
          case (Some(a), Some(b)) => Some(QOr(a, b))
          case (a, b) => a.orElse(b)
        } }
      l
    }
    def parseAnd(): Option[TsQ] = {
      var l = parsePhrase()
      while (peek == "&") { take(); val r = parsePhrase()
        l = (l, r) match {
          case (Some(a), Some(b)) => Some(QAnd(a, b))
          case (a, b) => a.orElse(b)
        } }
      l
    }
    def parsePhrase(): Option[TsQ] = {
      var l = parseNot()
      while (peek.startsWith("<") && peek.endsWith(">")) {
        val t = take()
        val d = if (t == "<->") 1 else {
          val inner = t.substring(1, t.length - 1)
          if (!inner.forall(_.isDigit)) bad()
          inner.toInt
        }
        val r = parseNot()
        l = (l, r) match {
          case (Some(a), Some(b)) => Some(QPhrase(a, b, d))
          case (a, b) => a.orElse(b)
        }
      }
      l
    }
    def parseNot(): Option[TsQ] = {
      if (peek == "!") { take(); parseNot().map(QNot) }
      else if (peek == "(") {
        take(); val inner = parseOr()
        if (peek != ")") bad()
        take(); inner
      } else if (peek == "" || peek == "&" || peek == "|" || peek == ")") bad()
      else {
        val raw = take()
        // split word:*flags
        var word = raw
        var prefix = false
        var weights = ""
        val ci = if (raw.startsWith("'")) raw.lastIndexOf(':') else raw.indexOf(':')
        if (ci > 0 && (raw.length > ci + 1) &&
          raw.substring(ci + 1).forall(ch => ch == '*' || "ABCDabcd".indexOf(ch) >= 0)) {
          word = raw.substring(0, ci)
          raw.substring(ci + 1).foreach {
            case '*' => prefix = true
            case ch => weights += ch.toUpper
          }
        }
        if (word.startsWith("'")) word = word.substring(1)
        if (word.isEmpty) bad()
        val lower = word.toLowerCase
        if (lexize) {
          dictApply(config, Token(lower, stemmable = true)) match {
            case Some(l0) if l0.nonEmpty => Some(QVal(l0, prefix, weights))
            case _ => None // stopword drops out of the tree
          }
        } else Some(QVal(lower, prefix, weights))
      }
    }
    val res = parseOr()
    if (p != toks.length) bad()
    res
  }

  def renderTsQuery(q: TsQ): String = {
    def prec(x: TsQ): Int = x match {
      case _: QOr => 1
      case _: QAnd => 2
      case _: QPhrase => 3
      case _ => 4
    }
    def go(x: TsQ, parent: Int): String = x match {
      case QVal(l, pre, w) =>
        val flags = (if (pre) "*" else "") + w
        "'" + l.replace("'", "''") + "'" + (if (flags.nonEmpty) ":" + flags else "")
      case QNot(c) => "!" + go(c, 4)
      case QAnd(l, r) => wrap(go(l, 2) + " & " + go(r, 2), 2, parent)
      case QOr(l, r) => wrap(go(l, 1) + " | " + go(r, 1), 1, parent)
      case QPhrase(l, r, 1) => wrap(go(l, 3) + " <-> " + go(r, 3), 3, parent)
      case QPhrase(l, r, d) => wrap(go(l, 3) + s" <$d> " + go(r, 3), 3, parent)
    }
    def wrap(s: String, myPrec: Int, parent: Int): String =
      if (myPrec < parent) "( " + s + " )" else s
    go(q, 0)
  }

  /** plainto: AND of lexemes; phraseto: phrase chain whose distances
    * PRESERVE dropped-stopword gaps (live pin: 'the fat in a rat' →
    * 'fat' <3> 'rat' — fat@2, rat@5).
    */
  def plainQuery(config: String, text: String, phrase: Boolean): Option[TsQ] = {
    val positioned = tokenize(text).zipWithIndex.flatMap { case (t, i) =>
      dictApply(config, t).filter(_.nonEmpty).map(l => (i + 1, l))
    }
    if (positioned.isEmpty) None
    else if (!phrase)
      Some(positioned.map(p => QVal(p._2, prefix = false, ""): TsQ)
        .reduceLeft[TsQ]((a, b) => QAnd(a, b)))
    else Some(positioned.tail.foldLeft(
      (QVal(positioned.head._2, prefix = false, ""): TsQ, positioned.head._1)) {
      case ((acc, prevPos), (pos, lex)) =>
        (QPhrase(acc, QVal(lex, prefix = false, ""), pos - prevPos), pos)
    }._1)
  }

  /** websearch_to_tsquery: unquoted words AND; `or` → OR; `-` → NOT;
    * "quoted phrases" → <->.
    */
  def websearchQuery(config: String, text: String): Option[TsQ] = {
    var i = 0
    val n = text.length
    val parts = scala.collection.mutable.ArrayBuffer.empty[(Boolean, String, Boolean)]
    while (i < n) {
      val c = text.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '"') {
        val close = text.indexOf('"', i + 1)
        val end = if (close < 0) n else close
        parts += ((false, text.substring(i + 1, end), true))
        i = end + 1
      } else if (c == '-') {
        // negation applies to the next term
        val start = i + 1
        if (start < n && text.charAt(start) == '"') {
          val close = text.indexOf('"', start + 1)
          val end = if (close < 0) n else close
          parts += ((true, text.substring(start + 1, end), true))
          i = end + 1
        } else {
          var j = start
          while (j < n && !text.charAt(j).isWhitespace) j += 1
          parts += ((true, text.substring(start, j), false))
          i = j
        }
      } else {
        var j = i
        while (j < n && !text.charAt(j).isWhitespace) j += 1
        parts += ((false, text.substring(i, j), false))
        i = j
      }
    }
    var acc: Option[TsQ] = None
    var orPending = false
    parts.foreach { case (neg, txt, isPhrase) =>
      if (!neg && !isPhrase && txt.equalsIgnoreCase("or")) orPending = true
      else {
        val sub0 = plainQuery(config, txt, isPhrase)
        val sub = sub0.map(q => if (neg) QNot(q) else q)
        sub.foreach { q =>
          acc = acc match {
            case None => Some(q)
            case Some(a) => Some(if (orPending) QOr(a, q) else QAnd(a, q))
          }
          orPending = false
        }
      }
    }
    acc
  }

  // ========================================================================
  // matching + rank
  // ========================================================================

  private def findLex(v: TsVector, q: QVal): Seq[(Int, Int)] =
    if (q.prefix)
      v.lex.iteratorFrom(q.lex).takeWhile(_._1.startsWith(q.lex)).flatMap(_._2).toSeq
    else v.lex.getOrElse(q.lex, Vector.empty)

  private def weightOk(q: QVal, wt: Int): Boolean =
    q.weights.isEmpty || q.weights.contains("DCBA".charAt(wt))

  /** `tsvector @@ tsquery` incl. phrase-distance evaluation: returns
    * the set of END positions where the subquery matches (pg's
    * TS_phrase_execute), or None-equivalent boolean for the boolean
    * operators above phrase level.
    */
  def tsMatch(v: TsVector, q: TsQ): Boolean = {
    def positions(x: TsQ): Option[Set[Int]] = x match {
      case qv: QVal =>
        Some(findLex(v, qv).filter(p => weightOk(qv, p._2)).map(_._1).toSet)
      case QPhrase(l, r, d) =>
        for (lp <- positions(l); rp <- positions(r))
          yield rp.filter(p => lp.contains(p - d))
      case _ => None // boolean ops don't yield positions
    }
    def eval(x: TsQ): Boolean = x match {
      case qv: QVal => findLex(v, qv).exists(p => weightOk(qv, p._2))
      case QAnd(l, r) => eval(l) && eval(r)
      case QOr(l, r) => eval(l) || eval(r)
      case QNot(c) => !eval(c)
      case ph: QPhrase => positions(ph).exists(_.nonEmpty)
    }
    eval(q)
  }

  // pg tsrank.c constants (public source): default weights D,C,B,A
  private val rankWeights = Array(0.1f, 0.2f, 0.4f, 1.0f)

  private def wordDistance(d: Int): Double =
    if (d > 100) 1e-30 else 1.0 / (1.005 + 0.05 * math.exp(d.toDouble / 1.5 - 2))

  private def collectVals(q: TsQ): Seq[QVal] = q match {
    case v: QVal => Seq(v)
    case QAnd(l, r) => collectVals(l) ++ collectVals(r)
    case QOr(l, r) => collectVals(l) ++ collectVals(r)
    case QPhrase(l, r, _) => collectVals(l) ++ collectVals(r)
    case QNot(c) => collectVals(c)
  }

  private def hasAnd(q: TsQ): Boolean = q match {
    case _: QAnd | _: QPhrase => true
    case QOr(l, r) => hasAnd(l) || hasAnd(r)
    case QNot(c) => hasAnd(c)
    case _ => false
  }

  /** Σ_j wpos_j/j² ÷ ζ(2) — the single-term rank (reverse-engineered
    * to 8 digits against live pg; matches tsrank.c's word_rank).
    */
  private def wordRank(ps: Seq[(Int, Int)], w: Array[Float]): Double = {
    var res = 0.0
    ps.iterator.zipWithIndex.foreach { case ((_, wt), j) =>
      res += w(wt) / ((j + 1.0) * (j + 1.0))
    }
    res / 1.6449340668482264
  }

  def tsRank(v: TsVector, q: TsQ, norm: Int): Float =
    tsRankW(v, q, norm, rankWeights)

  /** [[tsRank]] with a caller-supplied {D,C,B,A} weights array — pg's
    * ts_rank(weights, vector, query[, norm]) overload. */
  def tsRankW(v: TsVector, q: TsQ, norm: Int, w: Array[Float]): Float = {
    val vals = collectVals(q)
    val entries = vals.map(qv => findLex(v, qv).filter(p => weightOk(qv, p._2)))
    val raw: Double =
      if (vals.length == 1) wordRank(entries.head, w)
      else if (hasAnd(q)) {
        // probabilistic OR over cross-term position pairs of
        // sqrt(w_i · w_j · word_distance(|p_i − p_j|))
        var res = -1.0
        for (a <- entries.indices; b <- 0 until a;
             (pa, wa) <- entries(a); (pb, wb) <- entries(b)) {
          val dist = math.abs(pa - pb)
          if (dist != 0) {
            val curw = math.sqrt(w(wa) * w(wb) * wordDistance(dist))
            res = if (res < 0) curw else 1.0 - (1.0 - res) * (1.0 - curw)
          }
        }
        if (res < 0) 1e-20 else res
      } else {
        if (entries.isEmpty) 0.0
        else entries.map(wordRank(_, w)).sum / entries.length
      }
    applyNorm(raw, norm, v, lnBase = false).toFloat
  }

  /** Cover-density rank: Σ over minimal covers of
    * harmonicMean(weights)/(extent − nitems + 1) — reverse-engineered
    * against live pg (matches tsrank.c calc_rank_cd).
    */
  def tsRankCd(v: TsVector, q: TsQ, norm: Int): Float =
    tsRankCdW(v, q, norm, rankWeights)

  def tsRankCdW(v: TsVector, q: TsQ, norm: Int, w: Array[Float]): Float = {
    val vals = collectVals(q).distinct
    val entries = vals.map(qv => qv -> findLex(v, qv).filter(p => weightOk(qv, p._2)))
    val present = entries.filter(_._2.nonEmpty)
    val raw: Double =
      if (present.isEmpty) 0.0
      else if (hasAnd(q)) {
        if (present.length < entries.length) 0.0
        else {
          // all (pos → term, weight), sorted; enumerate minimal covers
          val flat = present.zipWithIndex.flatMap { case ((_, ps), ti) =>
            ps.map { case (p, wt) => (p, ti, wt) }
          }.sortBy(_._1)
          val nTerms = present.length
          var res = 0.0
          var s = 0
          while (s < flat.length) {
            // grow a window from s until all terms covered
            val seen = new Array[Int](nTerms)
            var covered = 0
            var e = s
            var ok = false
            while (e < flat.length && !ok) {
              val (_, ti, _) = flat(e)
              if (seen(ti) == 0) covered += 1
              seen(ti) += 1
              if (covered == nTerms) ok = true else e += 1
            }
            if (ok) {
              // minimal: shrink start — cover is minimal iff flat(s)'s
              // term is unique in window; we advance s anyway so only
              // count when minimal
              val startTerm = flat(s)._2
              val uniqueStart = !(s + 1 to e).exists(k => flat(k)._2 == startTerm)
              if (uniqueStart) {
                val ext = flat(e)._1 - flat(s)._1 + 1
                val inv = (s to e).groupBy(k => flat(k)._2).values.map { ks =>
                  1.0 / w(flat(ks.head)._3)
                }.sum
                val cpos = nTerms / inv
                res += cpos / (ext - nTerms + 1).toDouble.max(1.0)
              }
            }
            s += 1
          }
          res
        }
      } else {
        // OR: each term's occurrences are their own covers
        present.flatMap(_._2).map { case (_, wt) => w(wt).toDouble }.sum
      }
    applyNorm(raw, norm, v, lnBase = true).toFloat
  }

  /** Normalization flags, laws fitted against live pg 15 (sweep-24;
    * the earlier `1 + ln(n)` reading of the docs only agreed at
    * n = 1, which is what the original pins used):
    *  - 1: divide by log(len + 1) — base 2 for ts_rank, NATURAL log
    *    for ts_rank_cd (tsrank.c uses different bases);
    *  - 2: divide by len (total positions);
    *  - 8: divide by unique lexeme count;
    *  - 16: divide by log2(uniq + 1) for BOTH rank functions;
    *  - 32: r / (r + 1).
    * Flag 4 (cd extent-distance) is IGNORED — documented deviation
    * (single-extent documents, where it divides by 1, agree).
    */
  private def applyNorm(raw: Double, norm: Int, v: TsVector,
      lnBase: Boolean): Double = {
    var r = raw
    val len = v.lex.valuesIterator.map(_.length).sum
    def log1(x: Double, ln: Boolean) =
      if (ln) math.log(x) else math.log(x) / math.log(2.0)
    if ((norm & 1) != 0 && len > 0) r /= log1(len + 1.0, lnBase)
    if ((norm & 2) != 0 && len > 0) r /= len.toDouble
    val uniq = v.lex.size
    if ((norm & 8) != 0 && uniq > 0) r /= uniq.toDouble
    if ((norm & 16) != 0 && uniq > 0) r /= log1(uniq + 1.0, ln = false)
    if ((norm & 32) != 0) r /= r + 1.0
    r
  }

  // ========================================================================
  // utility functions (pinned live: ts_delete/ts_filter/concat/
  // to_array/phrase — sweep-16b)
  // ========================================================================

  def tsDelete(v: TsVector, lexemes: Set[String]): TsVector =
    TsVector(v.lex.filterNot { case (k, _) => lexemes.contains(k) })

  /** ts_filter: keep positions whose weight is in the set; lexemes
    * with no surviving positions drop out.
    */
  def tsFilter(v: TsVector, weights: Set[Int]): TsVector =
    TsVector(v.lex
      .map { case (k, ps) => k -> ps.filter(p => weights.contains(p._2)) }
      .filter(_._2.nonEmpty))

  /** tsvector || tsvector: the right side's positions shift past the
    * left's maximum (live pin: 'cat:3 fat:2,4' || 'cat:4 dog:1' →
    * 'cat':3,8 'dog':5 'fat':2,4).
    */
  def tsConcat(a: TsVector, b: TsVector): TsVector = {
    val shift = a.lex.valuesIterator.flatMap(_.map(_._1)).foldLeft(0)(math.max)
    val m = scala.collection.mutable.TreeMap.empty[String, Vector[(Int, Int)]]
    a.lex.foreach { case (k, ps) => m(k) = ps }
    b.lex.foreach { case (k, ps) =>
      val shifted = ps.map { case (p, w) => (math.min(p + shift, 16383), w) }
      m(k) = (m.getOrElse(k, Vector.empty) ++ shifted).distinct.sortBy(_._1)
    }
    TsVector(scala.collection.immutable.SortedMap.from(m))
  }

  /** ts_headline: highlight query matches in the source text.
    * Fragment selection pinned against live pg 15: the cover's first
    * match anchors the fragment, which extends RIGHT to MinWords
    * (not ending on a ShortWord when more text remains), then LEFT
    * with the remaining budget; docs at or under MaxWords render
    * whole. MaxFragments mode is not implemented (documented).
    */
  def tsHeadline(config: String, doc: String, q: TsQ, options: String): String = {
    // options
    var startSel = "<b>"; var stopSel = "</b>"
    var maxWords = 35; var minWords = 15; var shortWord = 3
    var highlightAll = false
    var maxFragments = 0
    var fragDelim = " ... "
    if (options != null && options.nonEmpty)
      options.split(",").foreach { kv =>
        val eq = kv.indexOf('=')
        if (eq > 0) {
          val k = kv.substring(0, eq).trim.toLowerCase
          val v0 = kv.substring(eq + 1).trim
          val v = if (v0.length >= 2 && v0.startsWith("\"") && v0.endsWith("\""))
            v0.substring(1, v0.length - 1) else v0
          k match {
            case "startsel" => startSel = v
            case "stopsel" => stopSel = v
            case "maxwords" => maxWords = v.toInt
            case "minwords" => minWords = v.toInt
            case "shortword" => shortWord = v.toInt
            case "maxfragments" => maxFragments = v.toInt
            case "fragmentdelimiter" => fragDelim = v
            case "highlightall" => highlightAll = v.equalsIgnoreCase("true") || v == "1"
            case _ =>
          }
        }
      }
    // positive query lexemes (+ prefixes)
    def vals(x: TsQ): Seq[QVal] = x match {
      case v: QVal => Seq(v)
      case QAnd(l, r) => vals(l) ++ vals(r)
      case QOr(l, r) => vals(l) ++ vals(r)
      case QPhrase(l, r, _) => vals(l) ++ vals(r)
      case QNot(_) => Nil
    }
    val terms = vals(q)
    // split doc into alnum words with their spans
    final case class W(start: Int, end: Int, text: String)
    val ws = scala.collection.mutable.ArrayBuffer.empty[W]
    var i = 0
    while (i < doc.length) {
      if (Character.isLetterOrDigit(doc.charAt(i))) {
        var j = i
        while (j < doc.length && Character.isLetterOrDigit(doc.charAt(j))) j += 1
        ws += W(i, j, doc.substring(i, j))
        i = j
      } else i += 1
    }
    def matches(w: String): Boolean = {
      val lower = w.toLowerCase
      val lexed = dictApply(config, Token(lower, stemmable = true))
      lexed.exists(l => terms.exists(t =>
        if (t.prefix) l.startsWith(t.lex) else l == t.lex))
    }
    val hit = ws.indices.filter(ix => matches(ws(ix).text))
    // MaxFragments mode: one fragment per cover, extended by
    // half-excess left / remainder right, leading ShortWords traded
    // for right extension, trailing ShortWords trimmed, overflow
    // budget at doc edges lost (behavior reconstructed from live pins
    // until 0 diffs — sweep-19b)
    if (maxFragments > 0 && hit.nonEmpty) {
      val frags = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var lastEnd = -1
      hit.foreach { anchor =>
        if (frags.length < maxFragments && anchor > lastEnd) {
          val excess = math.max(0, maxWords - 1)
          var s0 = anchor - excess / 2
          var e0 = anchor + (excess - excess / 2)
          if (s0 < 0) s0 = 0
          if (e0 > ws.length - 1) e0 = ws.length - 1
          // trade short leading words for right extension
          while (s0 < anchor && ws(s0).text.length <= shortWord) {
            s0 += 1
            if (e0 < ws.length - 1) e0 += 1
          }
          while (e0 > anchor && ws(e0).text.length <= shortWord) e0 -= 1
          frags += ((s0, e0))
          lastEnd = e0
        }
      }
      val sb = new java.lang.StringBuilder
      frags.zipWithIndex.foreach { case ((fs, fe), fi) =>
        if (fi > 0) sb.append(fragDelim)
        var cursor = ws(fs).start
        var wi = fs
        while (wi <= fe) {
          val w = ws(wi)
          sb.append(doc, cursor, w.start)
          if (hit.contains(wi)) sb.append(startSel).append(w.text).append(stopSel)
          else sb.append(w.text)
          cursor = w.end
          wi += 1
        }
      }
      return sb.toString
    }
    // fragment bounds [s, e] over word indices
    var s = 0
    var e = ws.length - 1
    if (!highlightAll && ws.nonEmpty) {
      // pg's mark_hl_words fragment selection (behavior reconstructed
      // from live pins): anchor at the cover, extend RIGHT counting
      // words up to MaxWords, breaking only once MinWords is reached
      // AT a word longer than ShortWord; if that walk hits the END of
      // text still under MinWords, extend LEFT under the same
      // ShortWord rule (which is why a tail-match in an all-short-word
      // doc renders the whole text)
      val anchor = if (hit.isEmpty) 0 else {
        // smallest window covering all distinct matched terms; first
        // match when some term never occurs
        hit.head
      }
      s = anchor
      e = anchor
      var curlen = 1
      var i2 = e + 1
      var broke = false
      while (i2 < ws.length && curlen < maxWords && !broke) {
        curlen += 1
        e = i2
        if (ws(i2).text.length > shortWord && curlen >= minWords) broke = true
        i2 += 1
      }
      if (!broke && curlen < minWords) {
        var j = s - 1
        var done = false
        while (j >= 0 && !done) {
          curlen += 1
          if (ws(j).text.length > shortWord && curlen >= minWords) done = true
          else j -= 1
        }
        s = math.max(j, 0)
      }
    }
    // render: the raw text from span start..end with matches wrapped
    val sb = new java.lang.StringBuilder
    // boundary punctuation stays when the fragment touches the doc
    // edge (live pin: a trailing '.' renders in a whole-doc headline)
    val from = if (ws.isEmpty || s == 0) 0 else ws(s).start
    val to = if (ws.isEmpty || e >= ws.length - 1) doc.length else ws(e).end
    var cursor = from
    var wi = s
    while (wi <= e && wi < ws.length) {
      val w = ws(wi)
      sb.append(doc, cursor, w.start)
      if (hit.contains(wi)) sb.append(startSel).append(w.text).append(stopSel)
      else sb.append(w.text)
      cursor = w.end
      wi += 1
    }
    if (to > cursor) sb.append(doc, cursor, to)
    sb.toString
  }

  def numnode(q: TsQ): Int = q match {
    case _: QVal => 1
    case QNot(c) => 1 + numnode(c)
    case QAnd(l, r) => 1 + numnode(l) + numnode(r)
    case QOr(l, r) => 1 + numnode(l) + numnode(r)
    case QPhrase(l, r, _) => 1 + numnode(l) + numnode(r)
  }

  /** querytree: strip !-subtrees (pg: parts not usable for index
    * search); render what remains, 'T' if nothing.
    */
  def querytree(q: TsQ): String = {
    def strip(x: TsQ): Option[TsQ] = x match {
      case _: QNot => None
      case QAnd(l, r) => (strip(l), strip(r)) match {
        case (Some(a), Some(b)) => Some(QAnd(a, b))
        case (a, b) => a.orElse(b)
      }
      case QOr(l, r) => (strip(l), strip(r)) match {
        case (Some(a), Some(b)) => Some(QOr(a, b))
        case _ => None // OR with an unindexable side is unindexable
      }
      case QPhrase(l, r, d) => (strip(l), strip(r)) match {
        case (Some(a), Some(b)) => Some(QPhrase(a, b, d))
        case (a, b) => a.orElse(b)
      }
      case v => Some(v)
    }
    strip(q).map(renderTsQuery).getOrElse("T")
  }
}

/** UDF pack + wire plumbing names for text search. Compat rewrites
  * `@@` onto ts_match when an operand is syntactically a tsvector/
  * tsquery, resolves length() against the string builtin, pads the
  * 1-arg config-defaulting call shapes, and maps `::tsvector`/
  * `::tsquery` casts to the input parsers; Handlers tags outputs with
  * `pg.oid_alias=tsvector|tsquery` (OIDs 3614/3615).
  */
object TextSearchFunctions extends Serializable {
  import TextSearch._

  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  private def q(config: String, s: String): Option[TsQ] =
    parseTsQuery(config, s, lexize = true)

  /** Per-thread parsed-tsquery memo: query strings are near-constant
    * per query plan (Spark doesn't constant-fold ScalaUDF calls, so
    * `… @@ plainto_tsquery('x')` re-renders the query per row — the
    * same trick PgJsonPathExpressions uses for jsonpath text).
    */
  private val queryMemo: ThreadLocal[java.util.LinkedHashMap[String, Option[TsQ]]] =
    ThreadLocal.withInitial(() =>
      new java.util.LinkedHashMap[String, Option[TsQ]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Option[TsQ]]): Boolean = size > 128
      })

  private def cachedQuery(qs: String): Option[TsQ] = {
    val m = queryMemo.get
    var v = m.get(qs)
    if (v == null) { v = parseTsQuery("simple", qs, lexize = false); m.put(qs, v) }
    v
  }

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (installed.put(spark, java.lang.Boolean.TRUE) != null) return
    val u = spark.udf

    u.register("to_tsvector", (config: String, text: String) =>
      if (config == null || text == null) null else toTsVector(config, text).render)
    u.register("tsvector_in", (s: String) =>
      if (s == null) null else parseTsVector(s).render)
    u.register("to_tsquery", (config: String, s: String) =>
      if (config == null || s == null) null else q(config, s).map(renderTsQuery).getOrElse(""))
    u.register("tsquery_in", (s: String) =>
      if (s == null) null
      else parseTsQuery("simple", s, lexize = false).map(renderTsQuery).getOrElse(""))
    u.register("plainto_tsquery", (config: String, s: String) =>
      if (config == null || s == null) null
      else plainQuery(config, s, phrase = false).map(renderTsQuery).getOrElse(""))
    u.register("phraseto_tsquery", (config: String, s: String) =>
      if (config == null || s == null) null
      else plainQuery(config, s, phrase = true).map(renderTsQuery).getOrElse(""))
    u.register("websearch_to_tsquery", (config: String, s: String) =>
      if (config == null || s == null) null
      else websearchQuery(config, s).map(renderTsQuery).getOrElse(""))

    // `tsvector @@ tsquery`; the _text form wraps a raw text lhs with
    // to_tsvector('english', …) like pg's text @@ tsquery operator
    def matchOf(v: String, qs: String): java.lang.Boolean =
      if (v == null || qs == null) null
      else if (qs.trim.isEmpty) Boolean.box(false)
      else Boolean.box(cachedQuery(qs).exists(tsMatch(parseTsVector(v), _)))
    u.register("ts_match", (v: String, qs: String) => matchOf(v, qs))
    u.register("ts_match_text", (t: String, qs: String) =>
      if (t == null || qs == null) null
      else matchOf(toTsVector("english", t).render, qs))

    u.register("ts_length", (v: String) =>
      (if (v == null) null else Int.box(parseTsVector(v).lex.size)): java.lang.Integer)
    u.register("strip", (v: String) =>
      if (v == null) null
      else TsVector(parseTsVector(v).lex.map { case (k, _) => k -> Vector.empty[(Int, Int)] }).render)
    u.register("setweight", (v: String, w: String) =>
      if (v == null || w == null) null
      else {
        val wt = w.toUpperCase match {
          case "A" => 3
          case "B" => 2
          case "C" => 1
          case "D" => 0
          case other => throw PgException("22023", s"""unrecognized weight: "$other"""")
        }
        TsVector(parseTsVector(v).lex.map { case (k, ps) =>
          k -> ps.map { case (p, _) => (p, wt) }
        }).render
      })
    u.register("numnode", (qs: String) =>
      (if (qs == null) null
       else Int.box(parseTsQuery("simple", qs, lexize = false).map(numnode).getOrElse(0))): java.lang.Integer)
    u.register("querytree", (qs: String) =>
      if (qs == null) null
      else parseTsQuery("simple", qs, lexize = false).map(querytree).getOrElse("T"))
    u.register("ts_lexize", (dict: String, w: String) =>
      if (dict == null || w == null) null
      else dict.toLowerCase match {
        case "english_stem" =>
          if (stopwords.contains(w.toLowerCase)) Array.empty[String]
          else Array(stem(w.toLowerCase))
        case "simple" => Array(w.toLowerCase)
        case other if other.endsWith("_stem") &&
            SnowballStems.byConfig(other.dropRight(5)).isDefined =>
          val (stop, stemFn) = SnowballStems.byConfig(other.dropRight(5)).get
          if (stop.contains(w.toLowerCase)) Array.empty[String]
          else Array(stemFn(w.toLowerCase))
        case other =>
          throw PgException("42704", s"""text search dictionary "$other" does not exist""")
      })

    def rank(f: (TsVector, TsQ, Int) => Float)(v: String, qs: String, n: Int): java.lang.Float =
      if (v == null || qs == null) null
      else cachedQuery(qs) match {
        case Some(pq) => Float.box(f(parseTsVector(v), pq, n))
        case None => Float.box(0f)
      }
    u.register("ts_rank", (v: String, qs: String) => rank(tsRank)(v, qs, 0))
    u.register("ts_rank3", (v: String, qs: String, n: Int) => rank(tsRank)(v, qs, n))
    u.register("ts_rank_cd", (v: String, qs: String) => rank(tsRankCd)(v, qs, 0))
    u.register("ts_rank_cd3", (v: String, qs: String, n: Int) => rank(tsRankCd)(v, qs, n))

    // weights-array overloads: ts_rank[_cd]('{D,C,B,A}', v, q[, n]).
    // pg (tsrank.c getWeights, live-pinned): < 4 elements → 2202E
    // "array of weight is too short"; any weight outside [0, 1] →
    // 22023 "weight out of range"; extras beyond 4 are ignored
    def rankW(f: (TsVector, TsQ, Int, Array[Float]) => Float)(
        ws: Seq[Float], v: String, qs: String, n: Int): java.lang.Float =
      if (ws == null || v == null || qs == null) null
      else {
        if (ws.length < 4)
          throw PgException("2202E", "array of weight is too short")
        if (ws.take(4).exists(x => x < 0f || x > 1f))
          throw PgException("22023", "weight out of range")
        cachedQuery(qs) match {
          case Some(pq) => Float.box(f(parseTsVector(v), pq, n, ws.toArray))
          case None => Float.box(0f)
        }
      }
    u.register("ts_rank_w", (ws: Seq[Float], v: String, qs: String) =>
      rankW(tsRankW)(ws, v, qs, 0))
    u.register("ts_rank_w4", (ws: Seq[Float], v: String, qs: String, n: Int) =>
      rankW(tsRankW)(ws, v, qs, n))
    u.register("ts_rank_cd_w", (ws: Seq[Float], v: String, qs: String) =>
      rankW(tsRankCdW)(ws, v, qs, 0))
    u.register("ts_rank_cd_w4", (ws: Seq[Float], v: String, qs: String, n: Int) =>
      rankW(tsRankCdW)(ws, v, qs, n))

    // utility family (live-pinned: sweep-16b)
    u.register("ts_delete", (v: String, lex: String) =>
      if (v == null || lex == null) null
      else tsDelete(parseTsVector(v), Set(lex)).render)
    u.register("ts_delete_arr", (v: String, lex: Seq[String]) =>
      if (v == null || lex == null) null
      else tsDelete(parseTsVector(v), lex.filter(_ != null).toSet).render)
    u.register("ts_filter", (v: String, w: String) =>
      if (v == null || w == null) null
      else {
        val chars = w.replace("{", "").replace("}", "").split(",").map(_.trim)
          .filter(_.nonEmpty).map(_.charAt(0))
        val wts = chars.map {
          case 'a' | 'A' => 3
          case 'b' | 'B' => 2
          case 'c' | 'C' => 1
          case 'd' | 'D' => 0
          case other => throw PgException("22023", s"unrecognized weight: \"$other\"")
        }.toSet
        tsFilter(parseTsVector(v), wts).render
      })
    u.register("tsvector_to_array", (v: String) =>
      if (v == null) null else parseTsVector(v).lex.keys.toArray)
    u.register("array_to_tsvector", (a: Seq[String]) =>
      if (a == null) null
      else TsVector(scala.collection.immutable.SortedMap.from(
        a.filter(_ != null).distinct.map(_ -> Vector.empty[(Int, Int)]))).render)
    u.register("tsvector_concat", (a: String, b: String) =>
      if (a == null || b == null) null
      else tsConcat(parseTsVector(a), parseTsVector(b)).render)
    def qOf(s: String): Option[TsQ] = cachedQuery(s)
    u.register("tsquery_and", (a: String, b: String) =>
      if (a == null || b == null) null
      else (qOf(a), qOf(b)) match {
        case (Some(x), Some(y)) => renderTsQuery(QAnd(x, y))
        case (x, y) => x.orElse(y).map(renderTsQuery).getOrElse("")
      })
    u.register("tsquery_or", (a: String, b: String) =>
      if (a == null || b == null) null
      else (qOf(a), qOf(b)) match {
        case (Some(x), Some(y)) => renderTsQuery(QOr(x, y))
        case (x, y) => x.orElse(y).map(renderTsQuery).getOrElse("")
      })
    def phrase(a: String, b: String, d: Int): String =
      (qOf(a), qOf(b)) match {
        case (Some(x), Some(y)) => renderTsQuery(QPhrase(x, y, d))
        case (x, y) => x.orElse(y).map(renderTsQuery).getOrElse("")
      }
    u.register("tsquery_phrase", (a: String, b: String) =>
      if (a == null || b == null) null else phrase(a, b, 1))
    u.register("tsquery_phrase3", (a: String, b: String, d: Int) =>
      if (a == null || b == null) null else phrase(a, b, d))
    def setweightIn(v: String, w: String, keys: Set[String]): String = {
      val wt = w.toUpperCase match {
        case "A" => 3
        case "B" => 2
        case "C" => 1
        case "D" => 0
        case other => throw PgException("22023", s"unrecognized weight: \"$other\"")
      }
      TsVector(parseTsVector(v).lex.map { case (k, ps) =>
        k -> (if (keys.contains(k)) ps.map { case (p, _) => (p, wt) } else ps)
      }).render
    }
    u.register("setweight3", (v: String, w: String, lex: String) =>
      if (v == null || w == null || lex == null) null
      else setweightIn(v, w, lex.replace("{", "").replace("}", "")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSet))
    u.register("setweight3_arr", (v: String, w: String, lex: Seq[String]) =>
      if (v == null || w == null || lex == null) null
      else setweightIn(v, w, lex.filter(_ != null).toSet))
    u.register("tsquery_not", (a: String) =>
      if (a == null) null
      else cachedQuery(a).map(q => renderTsQuery(QNot(q))).getOrElse(""))
    u.register("ts_headline", (config: String, doc: String, qs: String) =>
      if (config == null || doc == null || qs == null) null
      else tsHeadline(config, doc, cachedQuery(qs).getOrElse(QVal("", prefix = false, "")), null))
    u.register("ts_headline4", (config: String, doc: String, qs: String, opts: String) =>
      if (config == null || doc == null || qs == null) null
      else tsHeadline(config, doc, cachedQuery(qs).getOrElse(QVal("", prefix = false, "")), opts))
  }
}
