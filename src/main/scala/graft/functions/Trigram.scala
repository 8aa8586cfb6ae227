package graft.functions

/** pg_trgm trigram similarity (pg contrib, public docs + the
  * documented trigram model) — parity-PLUS surface like geo/range/
  * text-search: the reference ships no trigram module. Every output
  * below is pinned against the live PostgreSQL 15 container with
  * `CREATE EXTENSION pg_trgm` (PgParitySpec sweep-16): trigram
  * extraction (two-space front / one-space back word padding,
  * alnum-word splitting), set similarity, and the positional-extent
  * word_similarity / word-boundary strict_word_similarity.
  *
  * Directly useful at 100 TB: similarity() is the scalar the blocked
  * fuzzy-join operator (DedupOps) thresholds on — map-side, no
  * shuffle implications of its own.
  */
object Trigram extends Serializable {

  /** Split into alnum words (pg_trgm: any non-alphanumeric separates;
    * apostrophes and hyphens split words).
    */
  private def words(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetterOrDigit(c)) sb.append(Character.toLowerCase(c))
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toSeq
  }

  /** Positional trigram sequence of one padded word (`"  w…w "`). */
  private def wordTrigrams(w: String): Seq[String] = {
    val padded = "  " + w + " "
    (0 to padded.length - 3).map(i => padded.substring(i, i + 3))
  }

  /** Sorted distinct trigram set (pg show_trgm order: bytewise). */
  def showTrgm(s: String): Array[String] =
    words(s).flatMap(wordTrigrams).distinct.sorted.toArray

  /** similarity(a, b): |∩| / |∪| over the distinct trigram sets. */
  def similarity(a: String, b: String): Float = {
    val ta = showTrgm(a).toSet
    val tb = showTrgm(b).toSet
    val union = (ta ++ tb).size
    if (union == 0) 0f
    else (ta.intersect(tb).size.toFloat / union.toFloat)
  }

  /** word_similarity(a, b): the greatest |A∩E| / |A∪E| over
    * CONTINUOUS extents E of b's positional trigram sequence
    * (pinned: 'word' ~ 'two words' → 4/5 = 0.8 — the extent
    * {"  w"," wo",wor,ord} inside 'words').
    */
  def wordSimilarity(a: String, b: String): Float = {
    val ta = showTrgm(a).toSet
    if (ta.isEmpty) return 0f
    val seq = words(b).flatMap(wordTrigrams).toIndexedSeq
    if (seq.isEmpty) return 0f
    var best = 0f
    var i = 0
    while (i < seq.length) {
      val ext = scala.collection.mutable.HashSet.empty[String]
      var inter = 0
      var j = i
      while (j < seq.length) {
        val t = seq(j)
        if (ext.add(t) && ta.contains(t)) inter += 1
        val union = ta.size + ext.size - inter
        val sim = inter.toFloat / union.toFloat
        if (sim > best) best = sim
        j += 1
      }
      i += 1
    }
    best
  }

  /** strict_word_similarity(a, b): extents are whole-WORD runs of b
    * (pinned: 'word' ~ 'two words' → 4/7 against the word 'words').
    */
  def strictWordSimilarity(a: String, b: String): Float = {
    val ta = showTrgm(a).toSet
    if (ta.isEmpty) return 0f
    val ws = words(b).map(w => wordTrigrams(w).toSet)
    if (ws.isEmpty) return 0f
    var best = 0f
    var i = 0
    while (i < ws.length) {
      val ext = scala.collection.mutable.HashSet.empty[String]
      var j = i
      while (j < ws.length) {
        ext ++= ws(j)
        val inter = ext.count(ta.contains)
        val union = ta.size + ext.size - inter
        val sim = inter.toFloat / union.toFloat
        if (sim > best) best = sim
        j += 1
      }
      i += 1
    }
    best
  }

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val u = spark.udf
    u.register("show_trgm", (s: String) => if (s == null) null else showTrgm(s))
    u.register("similarity", (a: String, b: String) =>
      (if (a == null || b == null) null else Float.box(similarity(a, b))): java.lang.Float)
    u.register("word_similarity", (a: String, b: String) =>
      (if (a == null || b == null) null else Float.box(wordSimilarity(a, b))): java.lang.Float)
    u.register("strict_word_similarity", (a: String, b: String) =>
      (if (a == null || b == null) null else Float.box(strictWordSimilarity(a, b))): java.lang.Float)
    u.register("show_limit", () => 0.3f)
    // operator support functions (Compat.familyOnlyOps): the distance
    // spellings return 1 - similarity as FLOAT (pg real), and the
    // commutated forms (`a %> b` ≡ word_similarity(b, a) ≥ t) swap
    // their arguments here so the token rewrite never has to reorder
    // operand spans. The boolean operators' pg_trgm functions hold the
    // extension-default thresholds; on the wire PgSemantics replaces
    // them with a comparison against the session's threshold GUCs
    def f2(fn: (String, String) => Float): (String, String) => java.lang.Float =
      (a, b) => if (a == null || b == null) null else Float.box(fn(a, b))
    u.register("word_similarity_c", f2((a, b) => wordSimilarity(b, a)))
    u.register("strict_word_similarity_c", f2((a, b) => strictWordSimilarity(b, a)))
    u.register("trgm_sim_dist", f2((a, b) => 1f - similarity(a, b)))
    u.register("trgm_word_dist", f2((a, b) => 1f - wordSimilarity(a, b)))
    u.register("trgm_word_dist_c", f2((a, b) => 1f - wordSimilarity(b, a)))
    def op(name: String, threshold: Double)(fn: (String, String) => Float): Unit =
      u.register(name, (a: String, b: String) =>
        (if (a == null || b == null) null
         else Boolean.box(fn(a, b) >= threshold)): java.lang.Boolean)
    op("similarity_op", 0.3)(similarity)
    op("word_similarity_op", 0.6)(wordSimilarity)
    op("word_similarity_commutator_op", 0.6)((a, b) => wordSimilarity(b, a))
    op("strict_word_similarity_op", 0.5)(strictWordSimilarity)
    op("strict_word_similarity_commutator_op", 0.5)((a, b) => strictWordSimilarity(b, a))
  }
}
