package graft.text

import graft.{Op, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language ID, and fingerprinting — all per-row
  * projections (codegen'd string/array functions, no UDFs, no
  * shuffles), so they scan at parquet speed at any scale.
  */
object TextOps {

  private[graft] val toksExpr = "filter(split(text, ' '), t -> t != '')"
  private[graft] val toksDuck = "list_filter(string_split(text, ' '), t -> t != '')"

  // Winnowing building blocks shared by t08 (per-doc fingerprint
  // digest) and t14 (corpus-wide duplicated spans): 3-token shingles,
  // exact rolling hash (base 131 mod 1e9+7, BIGINT math), window-of-4
  // minima. Each is bound as its OWN column downstream (the t08
  // lesson: HOFs are interpreted, an inlined tree re-evaluates per
  // element).
  private val winnowK3Expr = """CASE WHEN size(toks) >= 3 THEN
      transform(sequence(1, size(toks) - 2),
        i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))
    ELSE array() END"""
  private val winnowHsExpr = """transform(k3, g ->
      aggregate(sequence(1, length(g)), cast(0 as bigint),
        (acc, i) -> (acc * 131 + ascii(substring(g, i, 1))) % 1000000007))"""
  private val winnowK3Duck = s"""CASE WHEN len(toks) >= 3 THEN
      list_transform(range(1, len(toks) - 1),
        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
    ELSE [] END"""
  private val winnowHsDuck = s"""list_transform($winnowK3Duck, g ->
      list_reduce([CAST(0 AS BIGINT)] || list_transform(range(1, len(g) + 1),
        i -> CAST(ascii(substr(g, i, 1)) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 1000000007))"""

  // Window expansion shared by t14/t16/winnowWindows: each window of 4
  // consecutive rolling hashes yields (fp = window min, pos = 1-indexed
  // first token), covering tokens pos..pos+5.
  private val winnowWinExpr = """transform(sequence(1, size(hs) - 3),
      j -> named_struct('fp', array_min(slice(hs, j, 4)), 'pos', j))"""

  /** One row per winnowing window — (doc_id, fp, pos) — computed
    * directly from a (doc_id, text) frame: the BATCH-sized entry point
    * behind [[WinnowIndex]] and the streaming span-dedup trigger.
    * Registered queries go through the memoized [[winnowHashes]]
    * barrier instead; here the barrier is a localCheckpoint of the
    * per-doc hash table (same pushdown-inlining hazard, delta-sized
    * frame).
    */
  def winnowWindows(docs: DataFrame): DataFrame = {
    val hs = docs.select(col("doc_id"), col("text"))
      .withColumn("toks", expr(toksExpr))
      .withColumn("k3", expr(winnowK3Expr))
      .withColumn("hs", expr(winnowHsExpr))
      .select(col("doc_id"), col("hs"))
      .localCheckpoint()
    hs.filter(expr("size(hs) >= 4"))
      .withColumn("w", expr(winnowWinExpr))
      .select(col("doc_id"), explode(col("w")).as("w"))
      .select(col("doc_id"), col("w.fp").as("fp"), col("w.pos").cast("long").as("pos"))
  }

  /** t16's excision projection, factored for reuse by the streaming
    * span dedup: `docsToks` carries (doc_id, toks), `marked` carries
    * (doc_id, ps) — the doc's SORTED marked window starts. Docs absent
    * from `marked` pass through untouched. Column contract =
    * t16_span_excision minus its ORDER BY.
    */
  private[graft] def exciseSpans(docsToks: DataFrame, marked: DataFrame): DataFrame =
    docsToks
      .join(marked, Seq("doc_id"), "left")
      .withColumn("ps", coalesce(col("ps"), expr("array()")))
      // kept token indices via array_except (hash-set membership,
      // left-order-preserving): O(n_tok + 6·n_marked) per doc — the
      // doc-local scale form of the removal filter (a per-token
      // exists() probe over the marked array is O(n_tok × n_marked),
      // which a book-length heavily-duplicated doc would feel)
      .withColumn("kept", expr("""CASE WHEN size(toks) = 0 THEN array()
        ELSE transform(
          array_except(sequence(1, size(toks)),
            flatten(transform(ps, p -> sequence(p, p + 5)))),
          i -> element_at(toks, cast(i as int))) END"""))
      .withColumn("n_spans", expr("""CASE WHEN size(ps) = 0 THEN CAST(0 AS BIGINT)
        ELSE aggregate(sequence(1, size(ps)), cast(0 as bigint), (acc, i) ->
          acc + IF(i = 1 OR element_at(ps, i) - element_at(ps, i - 1) > 6, 1, 0)) END"""))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("tokens_before"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("tokens_removed"),
        size(col("kept")).cast("long").as("tokens_after"),
        col("n_spans"),
        concat_ws(" ", col("kept")).as("cleaned_text"))

  // BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
  private val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  // ---- t01: token counting ------------------------------------------
  private def t01(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        size(expr(toksExpr)).cast("long").as("n_ws_tokens"),
        size(expr(s"regexp_extract_all(text, '$bpePattern', 0)")).cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  private val t01Sql = s"""
    SELECT doc_id,
      CAST(len($toksDuck) AS BIGINT) AS n_ws_tokens,
      CAST(len(regexp_extract_all(text, '$bpePattern')) AS BIGINT) AS n_bpe_tokens,
      CAST(len(text) AS BIGINT) AS n_chars
    FROM documents ORDER BY doc_id"""

  // ---- t02: quality scoring -----------------------------------------
  // score = 0.4*stopword_ratio + 0.4*(1 - punct_ratio) + 0.2*min(n_tok/100, 1)
  // — fixed-order double arithmetic, identical expression tree in both
  // engines.
  private[text] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private[text] val stopListSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** Per-row quality columns — the fixed-order double expression tree
    * (§4 determinism) shared by t02's census and t13's sampler.
    */
  private def withQualityScore(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(expr(s"filter(toks, t -> t IN ($stopListSql))")).cast("long"))
      .withColumn("n_punct",
        size(expr("regexp_extract_all(text, '[!?,.;:]', 0)")).cast("long"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tok").cast("double"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / length(col("text")).cast("double"))
      .withColumn("quality_score",
        lit(0.4) * col("stop_ratio") + lit(0.4) * (lit(1.0) - col("punct_ratio")) +
          lit(0.2) * least(col("n_tok").cast("double") / lit(100.0), lit(1.0)))

  private def t02(s: SparkSession, dir: String): DataFrame =
    withQualityScore(Tables(s, dir, "documents"))
      .select(col("doc_id"), col("n_tok"), col("n_stop"), col("n_punct"),
        col("stop_ratio"), col("punct_ratio"), col("quality_score"))
      .orderBy(col("doc_id"))

  private val t02Sql = s"""
    WITH base AS (
      SELECT doc_id, text,
        CAST(len($toksDuck) AS BIGINT) AS n_tok,
        CAST(len(list_filter($toksDuck, t -> t IN ($stopListSql))) AS BIGINT) AS n_stop,
        CAST(len(regexp_extract_all(text, '[!?,.;:]')) AS BIGINT) AS n_punct
      FROM documents)
    SELECT doc_id, n_tok, n_stop, n_punct,
      CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
      CAST(n_punct AS DOUBLE) / CAST(len(text) AS DOUBLE) AS punct_ratio,
      CAST(0.4 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
        + CAST(0.4 AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(n_punct AS DOUBLE) / CAST(len(text) AS DOUBLE))
        + CAST(0.2 AS DOUBLE) * least(CAST(n_tok AS DOUBLE) / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
        AS quality_score
    FROM base ORDER BY doc_id"""

  // ---- t03: language ID ---------------------------------------------
  // stopword-marker scoring; argmax with alphabetical tie-break, then
  // compared against the labeled `lang` column.
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "is", "and", "of"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("de5", "le5", "shi4", "zai4", "he2"))

  private def t03(s: SparkSession, dir: String): DataFrame = {
    val scored = markers.foldLeft(
      Tables(s, dir, "documents").withColumn("toks", expr(toksExpr))) {
      case (df, (lang, ws)) =>
        val list = ws.map(w => s"'$w'").mkString(", ")
        df.withColumn(s"s_$lang", size(expr(s"filter(toks, t -> t IN ($list))")))
    }
    val mx = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = markers.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case ((lang, _), acc) => when(col(s"s_$lang") === mx && mx > 0, lang).otherwise(acc)
    }
    // foldRight gives priority to the alphabetically-first lang at ties
    scored.withColumn("pred_lang", pred)
      .withColumn("is_correct", when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
      .select(col("doc_id"), col("pred_lang"), col("lang"), col("is_correct"))
      .orderBy(col("doc_id"))
  }

  private val t03Sql = {
    val scores = markers.map { case (lang, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter($toksDuck, t -> t IN ($list))) AS s_$lang"
    }.mkString(", ")
    val mx = "greatest(" + markers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
    val pred = "CASE " + markers.map { case (lang, _) =>
      s"WHEN s_$lang = mx AND mx > 0 THEN '$lang'"
    }.mkString(" ") + " ELSE 'und' END"
    s"""
    WITH scored AS (SELECT doc_id, lang, $scores FROM documents),
    mxd AS (SELECT *, $mx AS mx FROM scored)
    SELECT doc_id, $pred AS pred_lang, lang,
      CAST(CASE WHEN ($pred) = lang THEN 1 ELSE 0 END AS BIGINT) AS is_correct
    FROM mxd ORDER BY doc_id"""
  }

  // ---- t04: document fingerprinting ---------------------------------
  private def t04(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("content_md5"),
        md5(expr("array_join(array_sort(array_distinct(toks)), ' ')").cast("binary")).as("token_fp"),
        size(expr("array_distinct(toks)")).cast("long").as("n_distinct_tokens"))
      .orderBy(col("doc_id"))

  private val t04Sql = s"""
    SELECT doc_id,
      md5(text) AS content_md5,
      md5(array_to_string(list_sort(list_distinct($toksDuck)), ' ')) AS token_fp,
      CAST(len(list_distinct($toksDuck)) AS BIGINT) AS n_distinct_tokens
    FROM documents ORDER BY doc_id"""

  // ---- t05: corpus bigram statistics --------------------------------
  /** Top-20 token bigrams across the corpus — the n-gram census that
    * drives vocabulary and contamination checks; explode-then-count
    * with map-side combine, top-N by a total order.
    */
  private def t05(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("toks", expr(toksExpr))
      .select(explode(expr(
        """CASE WHEN size(toks) >= 2 THEN
             transform(sequence(1, size(toks) - 1),
               i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
           ELSE array() END""")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  private val t05Sql = s"""
    WITH toks AS (
      SELECT list_filter(string_split(text, ' '), t -> t != '') AS toks
      FROM documents),
    bigrams AS (
      SELECT unnest(CASE WHEN len(toks) >= 2 THEN
          list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
        ELSE [] END) AS bigram
      FROM toks)
    SELECT bigram, count(*) AS n
    FROM bigrams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20"""

  // ---- t06: TF-IDF distinctive terms --------------------------------
  /** Top-3 distinctive terms per document by tf·idf with the linear
    * idf = N/df (log-free: both engines' ln() can differ in the last
    * ulp, while multiply/divide of exact integers is bit-pinned).
    * Two aggregations + a broadcast scalar join — no driver collect.
    */
  private def t06(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    val tf = docs.select(col("doc_id"), explode(expr(toksExpr)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, Seq("term")).crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val t06Sql = s"""
    WITH tf AS (
      SELECT doc_id, t.term, count(*) AS tf
      FROM documents, UNNEST($toksDuck) AS t(term)
      GROUP BY doc_id, t.term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS tfidf
      FROM tf JOIN dfreq ON dfreq.term = tf.term CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
        ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, tf, df, tfidf, rank FROM ranked
    WHERE rank <= 3 ORDER BY doc_id, rank"""

  // ---- t07: vocabulary coverage -------------------------------------
  /** Top-30 corpus terms with cumulative token-share — how much of the
    * corpus the head of the vocabulary covers (tokenizer/vocab sizing).
    * Exact integer counts; the only double is the final share division.
    */
  private def t07(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Tables(s, dir, "documents")
      .select(explode(expr(toksExpr)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val total = terms.agg(sum(col("n")).as("total_tokens"))
    // top-30 first (distributed TakeOrderedAndProject) so the
    // unpartitioned rank/cumsum window only ever sees 30 rows, not the
    // whole vocabulary
    val top = terms.orderBy(col("n").desc, col("term")).limit(30)
    val w = Window.orderBy(col("n").desc, col("term"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_share",
        sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("total_tokens").cast("double"))
      .select(col("rank"), col("term"), col("n"), col("cum_share"))
      .orderBy(col("rank"))
  }

  private val t07Sql = s"""
    WITH terms AS (
      SELECT t.term, count(*) AS n
      FROM documents, UNNEST($toksDuck) AS t(term)
      GROUP BY t.term),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM terms),
    ranked AS (
      SELECT term, n,
        row_number() OVER (ORDER BY n DESC, term) AS rank,
        CAST(SUM(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
      FROM terms)
    SELECT rank, term, n, CAST(cum_n AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS cum_share
    FROM ranked CROSS JOIN tot
    WHERE rank <= 30 ORDER BY rank"""

  // ---- t08: rolling-hash winnowing fingerprints ---------------------
  /** MOSS-style document fingerprints: Rabin–Karp polynomial rolling
    * hash (base 131 mod 1e9+7, exact BIGINT math) over 3-token
    * shingles, then winnowing (min hash per window of 4) — the
    * fingerprint scheme plagiarism/containment scanners use.
    *
    * Two scale lessons are load-bearing here (both measured at sf1,
    * where the original form ran 1600× past its expected cost):
    *  - every intermediate array (grams, hashes, window minima,
    *    fingerprints) is bound as its OWN column, never textually
    *    inlined into a downstream lambda. Higher-order functions
    *    evaluate interpreted (CodegenFallback), and an expression
    *    tree inlined under a lambda can be re-evaluated per element —
    *    O(per-row) quietly becomes O(per-row²). A bound column is a
    *    BoundReference: computed once per row, period.
    *  - the documents corpus is one small single-row-group parquet
    *    file — unsplittable, so the whole CPU-dense per-row chain
    *    inherits ONE task (`maxPartitionBytes` cannot help; splits
    *    align to row groups). An explicit round-robin repartition
    *    spreads it across the session's parallelism; the shuffle
    *    moves only the raw text once.
    */
  private def t08(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .repartition(graft.util.Par.shufflePartitions(s))
      .withColumn("toks", expr(toksExpr))
      .withColumn("k3", expr(winnowK3Expr))
      .withColumn("hs", expr(winnowHsExpr))
      .withColumn("mins", expr("""CASE WHEN size(hs) >= 4 THEN
          transform(sequence(1, size(hs) - 3), j -> array_min(slice(hs, j, 4)))
        ELSE hs END"""))
      .withColumn("fps", expr("array_sort(array_distinct(mins))"))
      .select(col("doc_id"),
        expr("cast(size(fps) as bigint)").as("n_fps"),
        expr("md5(cast(array_join(transform(fps, x -> cast(x as string)), ',') as binary))")
          .as("fp_md5"))
      .orderBy(col("doc_id"))

  private val t08Sql: String = {
    val hs = winnowHsDuck
    val mins = s"""CASE WHEN len($hs) >= 4 THEN
        list_transform(range(1, len($hs) - 2), j -> list_min($hs[j:j+3]))
      ELSE $hs END"""
    val fps = s"list_sort(list_distinct($mins))"
    s"""
    SELECT doc_id,
      CAST(len($fps) AS BIGINT) AS n_fps,
      md5(array_to_string(list_transform($fps, x -> CAST(x AS VARCHAR)), ',')) AS fp_md5
    FROM (SELECT doc_id, $toksDuck AS toks FROM documents)
    ORDER BY doc_id"""
  }

  // ---- t09: text normalization --------------------------------------
  /** The cleaning transform every corpus passes through before
    * tokenization: lowercase, strip punctuation, collapse runs of
    * whitespace, drop stopwords — emitted as a content hash plus
    * before/after size stats so the reduction is auditable. Pure
    * per-row string ops (codegen'd, shuffle-free scan).
    */
  private def t09(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("cleaned",
        expr(s"""trim(regexp_replace(lower(regexp_replace(text, '[!?,.;:]', ' ')), ' +', ' '))"""))
      .withColumn("kept",
        expr(s"array_join(filter(split(cleaned, ' '), t -> t != '' AND NOT t IN ($stopListSql)), ' ')"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(col("kept")).cast("long").as("n_chars_clean"),
        md5(col("kept").cast("binary")).as("clean_md5"))
      .orderBy(col("doc_id"))

  private val t09Sql = s"""
    WITH cleaned AS (
      SELECT doc_id, text,
        trim(regexp_replace(lower(regexp_replace(text, '[!?,.;:]', ' ', 'g')), ' +', ' ', 'g')) AS cleaned
      FROM documents),
    kept AS (
      SELECT doc_id, text,
        array_to_string(list_filter(string_split(cleaned, ' '),
          t -> t != '' AND t NOT IN ($stopListSql)), ' ') AS kept
      FROM cleaned)
    SELECT doc_id,
      CAST(len(text) AS BIGINT) AS n_chars_raw,
      CAST(len(kept) AS BIGINT) AS n_chars_clean,
      md5(kept) AS clean_md5
    FROM kept ORDER BY doc_id"""

  // ---- t10: repetition filters --------------------------------------
  /** Gopher-style repetition quality signals: the fraction of a
    * document occupied by its single most frequent bigram, and the
    * fraction of duplicated (non-distinct) trigrams — the two
    * highest-yield heuristics for catching boilerplate / template /
    * degenerate-generation text before it reaches a training mix.
    *
    * Scale shape: explode(grams) → two map-side-combining
    * aggregations keyed by (doc_id, gram) then doc_id — the gram
    * stream is hash-uniform (keyed by content), per-doc state is three
    * scalars, and nothing is quadratic in document length (the
    * explode+count form is O(tokens), where a row-local
    * `transform(distinct, g -> count(filter(...)))` mode would be
    * O(tokens²) on a long document). Thresholds are the published
    * Gopher cut-offs; the flag is emitted as 0/1 so both engines hash
    * it identically.
    */
  private def t10(s: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables(s, dir, "documents")).orderBy(col("doc_id"))

  /** t10's core on an arbitrary (doc_id, text) frame — factored out so
    * the threshold semantics are testable on constructed degenerate
    * docs (the shipped corpus has zero repetitive docs at every SF, so
    * the flag's cut-offs need a synthetic frame to be exercised at
    * all; CurationOpsSpec drives a spam doc through this exact plan).
    */
  private[graft] def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), expr(toksExpr).as("toks"))
    def gramExpr(n: Int): String = {
      val parts = (0 until n).map(j => s"element_at(toks, i + $j)").mkString(", ")
      s"""CASE WHEN size(toks) >= $n THEN
            transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', $parts))
          ELSE array() END"""
    }
    // both gram orders ride ONE aggregation tree: union the tagged
    // gram streams, count per (doc, order, gram), then fold both
    // orders' totals/distincts/maxima in a single per-doc aggregate —
    // one shuffle chain and one spine join where a stats-per-order
    // form costs two of each (and a third documents scan)
    def gramStream(n: Int): DataFrame = toks
      .select(col("doc_id"), lit(n).as("g_n"), explode(expr(gramExpr(n))).as("gram"))
    val stats = gramStream(2).unionAll(gramStream(3))
      .groupBy(col("doc_id"), col("g_n"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("g_n") === 2, col("c"))).as("bi_total"),
        max(when(col("g_n") === 2, col("c"))).as("bi_max"),
        sum(when(col("g_n") === 3, col("c"))).as("tri_total"),
        count(when(col("g_n") === 3, lit(1))).as("tri_distinct"))
    docs.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("bi_total"), lit(0L)).as("n_bigrams"),
        when(col("bi_total").isNull, lit(0.0))
          .otherwise(col("bi_max").cast("double") / col("bi_total").cast("double"))
          .as("top_bigram_frac"),
        coalesce(col("tri_total"), lit(0L)).as("n_trigrams"),
        when(col("tri_total").isNull, lit(0.0))
          .otherwise(lit(1.0) - col("tri_distinct").cast("double") / col("tri_total").cast("double"))
          .as("dup_trigram_frac"))
      .withColumn("repetitive",
        (col("top_bigram_frac") > lit(0.18) || col("dup_trigram_frac") > lit(0.30))
          .cast("int"))
  }

  private val t10Sql = s"""
    WITH toks AS (SELECT doc_id, $toksDuck AS toks FROM documents),
    bi AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
          list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
        ELSE [] END) AS gram
      FROM toks),
    bis AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bi_total, CAST(MAX(c) AS BIGINT) AS bi_max
      FROM (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY doc_id, gram)
      GROUP BY doc_id),
    tri AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
        ELSE [] END) AS gram
      FROM toks),
    tris AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tri_total, CAST(COUNT(*) AS BIGINT) AS tri_distinct
      FROM (SELECT doc_id, gram, count(*) AS c FROM tri GROUP BY doc_id, gram)
      GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id,
        COALESCE(bi_total, 0) AS n_bigrams,
        CASE WHEN bi_total IS NULL THEN CAST(0 AS DOUBLE)
             ELSE CAST(bi_max AS DOUBLE) / CAST(bi_total AS DOUBLE) END AS top_bigram_frac,
        COALESCE(tri_total, 0) AS n_trigrams,
        CASE WHEN tri_total IS NULL THEN CAST(0 AS DOUBLE)
             ELSE CAST(1 AS DOUBLE) - CAST(tri_distinct AS DOUBLE) / CAST(tri_total AS DOUBLE) END
          AS dup_trigram_frac
      FROM documents d
      LEFT JOIN bis ON bis.doc_id = d.doc_id
      LEFT JOIN tris ON tris.doc_id = d.doc_id)
    SELECT *,
      CAST(top_bigram_frac > 0.18 OR dup_trigram_frac > 0.30 AS INT) AS repetitive
    FROM scored ORDER BY doc_id"""

  // ---- t11: pretraining chunk packing -------------------------------
  /** Concatenate-and-chunk sequence packing — the layout step between
    * a curated corpus and a pretraining dataloader: documents are
    * deterministically sharded (256 content-stable shards via an md5
    * prefix), concatenated in doc_id order within each shard, and cut
    * into fixed-capacity token chunks. Emits each document's position
    * in that chunk stream (start offset, first/last chunk, chunks
    * spanned) — exactly what an offline tokenize-and-pack job
    * materializes.
    *
    * Scale shape: one window cumsum per shard. The sequential scan per
    * shard is inherent to the semantics (a chunk stream IS an ordered
    * concatenation), so parallelism = shard count: 256 here, and the
    * shard key is two md5 hex chars — widen to three (4096 shards) at
    * 100 TB without changing the contract. No driver state, no
    * explode; the window reads (doc_id, n_tok) only.
    *
    * Zero-token documents report n_chunks = 1 (first_chunk =
    * last_chunk = the chunk their zero-length span abuts), BY
    * CONVENTION: an empty doc still occupies a position in the packed
    * stream, and keeping first/last total (never NULL) lets downstream
    * per-chunk joins treat every doc uniformly. Both engines encode
    * the same convention (the CASE on n_tok > 0), so parity holds; a
    * deployment that wants empty docs invisible filters n_tok > 0
    * before packing.
    */
  private def t11(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cap = 64L // chunk capacity in whitespace tokens (proportional to the ~56-token synthetic docs; a real deployment uses 2048+)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        substring(md5(concat(lit("pack:"), col("doc_id").cast("string")).cast("binary")), 1, 2)
          .as("shard"),
        size(expr(toksExpr)).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("start_off", col("cum") - col("n_tok"))
      .withColumn("first_chunk", expr(s"start_off div $cap"))
      .withColumn("last_chunk",
        when(col("n_tok") > 0, expr(s"(cum - 1) div $cap")).otherwise(col("first_chunk")))
      .select(col("doc_id"), col("shard"), col("n_tok"), col("start_off"),
        col("first_chunk"), col("last_chunk"),
        (col("last_chunk") - col("first_chunk") + lit(1L)).as("n_chunks"))
      .orderBy(col("doc_id"))
  }

  private val t11Sql = s"""
    WITH base AS (
      SELECT doc_id,
        substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
        CAST(len($toksDuck) AS BIGINT) AS n_tok
      FROM documents),
    packed AS (
      SELECT doc_id, shard, n_tok,
        CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM base),
    chunks AS (
      SELECT doc_id, shard, n_tok, cum - n_tok AS start_off,
        (cum - n_tok) // 64 AS first_chunk,
        CASE WHEN n_tok > 0 THEN (cum - 1) // 64 ELSE (cum - n_tok) // 64 END AS last_chunk
      FROM packed)
    SELECT doc_id, shard, n_tok, start_off, first_chunk, last_chunk,
      last_chunk - first_chunk + 1 AS n_chunks
    FROM chunks ORDER BY doc_id"""

  // ---- t12: heavy hitters (frequent-items sketch + exact recount) ---
  /** Corpus heavy hitters at bounded memory: a Misra–Gries candidate
    * pass (`FreqSketch.misraGriesKeys` over xxhash64(term), k=4096 —
    * per-partition state ≤ k entries, the exchange carries one ≤k
    * summary per partition) guarantees a SUPERSET of every term with
    * frequency > n/(k+1) ≈ 0.024%; an exact recount of candidate
    * terms only (semi-join keyed by the 64-bit hash, so the second
    * pass shuffles candidate-matching tokens, never the full stream)
    * then applies the real 0.2% cut. The final output is therefore
    * EXACT and partitioning-independent — the sketch decides what to
    * recount, never what to emit — which is what makes a DuckDB
    * oracle possible for a sketch whose internal counters are
    * arrival-order-dependent. (t05/t07's full groupBy is the right
    * shape for top-N; this is the bounded-state shape for "every term
    * above a share floor" when the vocabulary itself is too large to
    * shuffle: web-scale tokens, URLs, n-grams.)
    */
  private def t12(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.FreqSketch
    val termsH = Tables(s, dir, "documents")
      .select(explode(expr(toksExpr)).as("term"))
      .withColumn("h", xxhash64(col("term")))
    // candidate keys AND the token total ride ONE pass over the
    // exploded stream; the 1-row result is pinned so its two
    // consumers don't each re-run the scan (2 passes total, the
    // floor for sketch-then-exact-recount). localCheckpoint pins
    // eagerly onto executor-local blocks and truncates lineage, so an
    // executor loss fails the query instead of recomputing — the
    // right trade for a 1-ROW summary (re-running the whole query on
    // a lost executor is cheaper than re-scanning the token stream
    // once per consumer on every healthy run)
    val sketch = termsH
      .agg(FreqSketch.misraGriesKeys(col("h"), 4096).as("ks"),
        count(lit(1)).as("n_total"))
      .localCheckpoint()
    val cands = sketch.select(explode(col("ks")).as("h"))
    val total = sketch.select(col("n_total"))
    termsH.join(cands, Seq("h"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n").cast("double") >= lit(0.002) * col("n_total").cast("double"))
      .select(col("term"), col("n"),
        (col("n").cast("double") / col("n_total").cast("double")).as("share"))
      .orderBy(col("n").desc, col("term"))
  }

  private val t12Sql = s"""
    WITH terms AS (SELECT unnest($toksDuck) AS term FROM documents),
    tot AS (SELECT count(*) AS n_total FROM terms),
    cnt AS (SELECT term, count(*) AS n FROM terms GROUP BY term)
    SELECT c.term, c.n, CAST(c.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
    FROM cnt c CROSS JOIN tot t
    WHERE CAST(c.n AS DOUBLE) >= 0.002 * CAST(t.n_total AS DOUBLE)
    ORDER BY c.n DESC, c.term"""

  // ---- t13: deterministic quality-weighted sampling ------------------
  /** Quality-weighted acceptance sampling + per-(source, lang) mixture
    * census — the data-MIXING primitive a pretraining pipeline runs
    * after filtering: keep each document with probability equal to its
    * quality score. The coin flip is the content-stable hash rule
    * d10's split and q19's bottom-k already use — accept iff
    * h32(doc_id) < quality · 2³² — so the sample is deterministic,
    * coordinator-free (no distributed RNG, no seed plumbing), stable
    * under reruns/partitioning, and bit-identical in both engines. The
    * census reports each (source, lang) cell's realized acceptance
    * rate beside its mean quality (expected_rate): by hash uniformity
    * the two converge, so the pair is the sampler's built-in
    * self-check, and expected_rate is exactly the mixture weight the
    * cell would contribute to a quality-weighted training mix. The
    * mean rides an integer sum (quality quantized to millionths —
    * round() is half-up for positive doubles in both engines), never a
    * double partial-agg (§4). Zero-token docs take quality 0 via an
    * explicit CASE — both engines, no NaN-vs-NULL edge. Per-row map +
    * one groupBy: scan-bound at any corpus size.
    */
  private def t13(s: SparkSession, dir: String): DataFrame =
    graft.functions.Hash32.withH32(
        withQualityScore(Tables(s, dir, "documents")),
        "wsample:", col("doc_id").cast("string"))
      .withColumn("qual",
        when(col("n_tok") > 0, col("quality_score")).otherwise(lit(0.0)))
      .withColumn("qm", round(col("qual") * lit(1000000.0)).cast("long"))
      .withColumn("acc",
        when(col("h32").cast("double") < col("qual") * lit(4294967296.0), lit(1L))
          .otherwise(lit(0L)))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("acc")).as("n_accept"),
        sum(col("qm")).as("sum_qm"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_accept"),
        (col("n_accept").cast("double") / col("n_docs").cast("double"))
          .as("accept_rate"),
        (col("sum_qm").cast("double") /
          (col("n_docs").cast("double") * lit(1000000.0))).as("expected_rate"))
      .orderBy(col("source"), col("lang"))

  private val t13Sql = s"""
    WITH base AS (
      SELECT doc_id, source, lang,
        CAST(len($toksDuck) AS BIGINT) AS n_tok,
        CAST(len(list_filter($toksDuck, t -> t IN ($stopListSql))) AS BIGINT) AS n_stop,
        CAST(len(regexp_extract_all(text, '[!?,.;:]')) AS BIGINT) AS n_punct,
        CAST(len(text) AS BIGINT) AS n_chr
      FROM documents),
    q AS (
      SELECT source, lang,
        CASE WHEN n_tok > 0 THEN
          CAST(0.4 AS DOUBLE) * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
            + CAST(0.4 AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(n_punct AS DOUBLE) / CAST(n_chr AS DOUBLE))
            + CAST(0.2 AS DOUBLE) * least(CAST(n_tok AS DOUBLE) / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
          ELSE CAST(0 AS DOUBLE) END AS qual,
        ${graft.functions.Hash32.h32Duck("'wsample:' || CAST(doc_id AS VARCHAR)")} AS h32
      FROM base),
    a AS (
      SELECT source, lang,
        CAST(round(qual * 1000000.0) AS BIGINT) AS qm,
        CASE WHEN CAST(h32 AS DOUBLE) < qual * 4294967296.0 THEN 1 ELSE 0 END AS acc
      FROM q)
    SELECT source, lang, count(*) AS n_docs,
      CAST(SUM(acc) AS BIGINT) AS n_accept,
      CAST(SUM(acc) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accept_rate,
      CAST(SUM(qm) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0) AS expected_rate
    FROM a GROUP BY source, lang ORDER BY source, lang"""

  // ---- t15: rare-token-density curation score ------------------------
  /** Per-doc rare-token density — rarity(d) = (1/|d|) Σ_t N/c(t),
    * the mean inverse corpus frequency of the doc's tokens (N =
    * corpus token total, c(t) = the token's corpus count). The
    * content-side curation scorer next to t02's form-side one:
    * gibberish / OCR noise / mis-segmented text is dense in
    * near-hapax tokens (each contributes ≈ N), boilerplate is all
    * head tokens (each contributes ≈ N/c_head ≈ small) — the cheap
    * LM-proxy a pipeline thresholds when scoring every crawl doc
    * with a real LM is unaffordable.
    *
    * LOG-FREE by design (the t06 idf rule): the textbook form
    * Σ −log P(t) needs a transcendental log, which is not correctly
    * rounded and cannot be §4-pinned across engines; N/c(t) is one
    * IEEE division of two BIGINTs (correctly rounded, bit-identical
    * in both engines) and ranks docs by the same rare-token signal.
    * The per-doc mean rides a decimal sum (§4).
    *
    * Scale shape: explode → one vocab-keyed map-side-combining count,
    * one hash join back — SHUFFLE_HASH-hinted with the vocabulary-
    * sized counts table as build side (the d17/g27 census rule: once
    * counts outgrows the broadcast threshold the unhinted plan is a
    * sort-merge join that SORTS the corpus token stream on the
    * power-law term key; head-term partitions become stragglers) —
    * then one doc-keyed aggregate; the 1-row total crossJoins as a
    * scalar broadcast (the t07 pattern).
    */
  private def t15(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
    val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    tok.join(counts.hint("SHUFFLE_HASH"), Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        (graft.par.dsum(col("n_total").cast("double") / col("c").cast("double"), 6)
          / count(lit(1))).as("rarity"))
      .select(col("doc_id"), col("n_tok"), col("rarity"))
      .orderBy(col("doc_id"))
  }

  private val t15Sql = s"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, t.term
      FROM documents, UNNEST($toksDuck) AS t(term)),
    counts AS MATERIALIZED (SELECT term, count(*) AS c FROM tok GROUP BY term),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM counts)
    SELECT doc_id, count(*) AS n_tok,
      ${graft.par.dsumSql("CAST(n_total AS DOUBLE) / CAST(c AS DOUBLE)", 6)}
        / count(*) AS rarity
    FROM tok JOIN counts USING (term) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id"""

  // ---- t17: PII detection + redaction ---------------------------------
  // Deterministic regex classes over ASCII text; both engines compile
  // these with identical semantics (no backrefs/lookaround, so Java
  // regex and RE2 agree; \b is the ASCII word boundary in both).
  private[graft] val piiEmailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private[graft] val piiPhoneRe = """\b\d{2}-\d{3}-\d{3}-\d{4}\b"""
  private[graft] val piiIpRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private[graft] val piiIdRe = """\b[A-Z]{2}\d{2}[A-Z0-9]{10}\b"""

  /** t17: PII detection census + redaction — the standard curation
    * stage every production pretraining pipeline runs before training
    * (scrub contact info / network identifiers / account ids). The
    * synthetic corpus is PII-free word soup, so the operator first
    * ENRICHES each doc deterministically from `doc_id` arithmetic —
    * up to four PII tokens (email, TPC-H-style phone, IPv4, IBAN-ish
    * account id) spliced at token position `doc_id % (n_tok + 1)`,
    * with per-class presence varying by residue so some docs carry
    * zero PII — then detects (per-class match census via
    * `regexp_extract_all`) and redacts (chained global
    * `regexp_replace` to typed placeholders). Both engines compute
    * the identical enrichment, so the oracle checks the REAL
    * detection/redaction semantics end to end, mid-document.
    *
    * Scale shape: pure per-row codegen'd string projection — no
    * exchange at all except the output ORDER BY; scans at parquet
    * speed at any corpus size (t01's envelope). The regex classes are
    * mutually exclusive on any text (lowercase email vs dashed digit
    * groups vs dotted digit quads vs uppercase-prefixed ids), so the
    * replace chain is order-independent; the order is fixed anyway.
    */
  private def t17(s: SparkSession, dir: String): DataFrame = {
    val idS = col("doc_id").cast("string")
    val enriched = Tables(s, dir, "documents")
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("k", (col("doc_id") % (col("n_tok") + 1)).cast("int"))
      .withColumn("email", when(col("doc_id") % 3 =!= 0,
        concat(lit("user"), idS, lit("@ex"),
          (col("doc_id") % 10).cast("string"), lit(".example.com"))))
      .withColumn("phone", when(col("doc_id") % 4 =!= 1,
        concat((col("doc_id") % 90 + 10).cast("string"), lit("-"),
          (col("doc_id") * 3 % 900 + 100).cast("string"), lit("-"),
          (col("doc_id") * 7 % 900 + 100).cast("string"), lit("-"),
          (col("doc_id") * 9 % 9000 + 1000).cast("string"))))
      .withColumn("ip", when(col("doc_id") % 5 === 2,
        concat(lit("10."), (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") * 3 % 256).cast("string"), lit("."),
          (col("doc_id") * 7 % 256).cast("string"))))
      .withColumn("acct", when(col("doc_id") % 7 === 3,
        concat(lit("DE"), (col("doc_id") % 90 + 10).cast("string"), lit("ACCT"),
          (col("doc_id") % 900000 + 100000).cast("string"))))
      .withColumn("etext", concat_ws(" ",
        expr("concat(slice(toks, 1, k), " +
          "filter(array(email, phone, ip, acct), x -> x IS NOT NULL), " +
          "slice(toks, k + 1, n_tok - k))")))
    // The four passes run as ONE codegen'd kernel call per row
    // ([[graft.functions.PiiScan]], r16): hand-rolled linear scans
    // replacing `regexp_replace`'s backtracking-NFA interpretation —
    // the entire t17 wall (~10× DuckDB's RE2 on identical patterns,
    // measured 38 s at sf3). The kernel chains the same four passes in
    // the same order and counts replacements directly (bit-equal to
    // the placeholder-difference census: each replacement inserts
    // exactly one placeholder and no class can match or span one).
    // Exact java.util.regex equivalence is fuzz-pinned in PiiScanSpec;
    // the R16OpsSpec recount and the DuckDB oracle hash pin it
    // end-to-end. The struct alias is non-cheap and so never inlined
    // by CollapseProject — one kernel eval per row (plan-pinned).
    enriched
      .withColumn("pii", graft.functions.PiiFunctions.piiRedact(col("etext")))
      .select(col("doc_id"), col("source"),
        col("pii.n_email").as("n_email"), col("pii.n_phone").as("n_phone"),
        col("pii.n_ipv4").as("n_ipv4"), col("pii.n_id").as("n_id"),
        (col("pii.n_email") + col("pii.n_phone") + col("pii.n_ipv4") +
          col("pii.n_id")).as("n_pii"),
        col("pii.redacted").as("redacted_text"))
      .orderBy(col("doc_id"))
  }

  private lazy val t17Sql: String = s"""
    WITH base AS (
      SELECT doc_id, source, $toksDuck AS toks FROM documents),
    enr AS (
      SELECT doc_id, source, toks,
        CAST(doc_id % (len(toks) + 1) AS BIGINT) AS k,
        CASE WHEN doc_id % 3 <> 0 THEN 'user' || CAST(doc_id AS VARCHAR)
          || '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' END AS email,
        CASE WHEN doc_id % 4 <> 1 THEN CAST(doc_id % 90 + 10 AS VARCHAR)
          || '-' || CAST(doc_id * 3 % 900 + 100 AS VARCHAR)
          || '-' || CAST(doc_id * 7 % 900 + 100 AS VARCHAR)
          || '-' || CAST(doc_id * 9 % 9000 + 1000 AS VARCHAR) END AS phone,
        CASE WHEN doc_id % 5 = 2 THEN '10.' || CAST(doc_id % 256 AS VARCHAR)
          || '.' || CAST(doc_id * 3 % 256 AS VARCHAR)
          || '.' || CAST(doc_id * 7 % 256 AS VARCHAR) END AS ip,
        CASE WHEN doc_id % 7 = 3 THEN 'DE' || CAST(doc_id % 90 + 10 AS VARCHAR)
          || 'ACCT' || CAST(doc_id % 900000 + 100000 AS VARCHAR) END AS acct
      FROM base),
    etx AS (
      SELECT doc_id, source,
        array_to_string(toks[1:k]
          || list_filter([email, phone, ip, acct], x -> x IS NOT NULL)
          || toks[k+1:], ' ') AS etext
      FROM enr),
    -- census by difference, mirroring the Spark side: each class count
    -- = placeholder occurrences after that class's replace pass minus
    -- before it (exact: no class regex can match a placeholder)
    p1 AS (SELECT *, regexp_replace(etext, '$piiEmailRe', '<EMAIL>', 'g') AS r1 FROM etx),
    p2 AS (SELECT *, regexp_replace(r1, '$piiPhoneRe', '<PHONE>', 'g') AS r2 FROM p1),
    p3 AS (SELECT *, regexp_replace(r2, '$piiIpRe', '<IP>', 'g') AS r3 FROM p2),
    p4 AS (SELECT *, regexp_replace(r3, '$piiIdRe', '<ID>', 'g') AS r4 FROM p3),
    cen AS (
      SELECT doc_id, source, r4,
        CAST((len(r1) - len(replace(r1, '<EMAIL>', ''))) // 7
           - (len(etext) - len(replace(etext, '<EMAIL>', ''))) // 7 AS BIGINT) AS n_email,
        CAST((len(r2) - len(replace(r2, '<PHONE>', ''))) // 7
           - (len(r1) - len(replace(r1, '<PHONE>', ''))) // 7 AS BIGINT) AS n_phone,
        CAST((len(r3) - len(replace(r3, '<IP>', ''))) // 4
           - (len(r2) - len(replace(r2, '<IP>', ''))) // 4 AS BIGINT) AS n_ipv4,
        CAST((len(r4) - len(replace(r4, '<ID>', ''))) // 4
           - (len(r3) - len(replace(r3, '<ID>', ''))) // 4 AS BIGINT) AS n_id
      FROM p4)
    SELECT doc_id, source, n_email, n_phone, n_ipv4, n_id,
      n_email + n_phone + n_ipv4 + n_id AS n_pii,
      r4 AS redacted_text
    FROM cen ORDER BY doc_id"""

  // ---- t20: bigram-conditional surprise (LM coherence score) ----------
  /** Per-document mean bigram surprise — the CONTEXT-CONDITIONAL
    * complement to t15's unigram rarity, and the cheap stand-in for
    * the perplexity filter (CCNet-style) every production curation
    * pipeline runs: for each adjacent token pair, surprise =
    * c(w1·)/c(w1,w2) — the inverse of the empirical conditional
    * probability P(w2|w1), with c(w1·) the corpus count of w1 as LEFT
    * context (so the conditional distribution sums to 1 exactly).
    * Coherent/boilerplate text rides common continuations (surprise
    * → 1); shuffled or gibberish text pairs tokens that almost never
    * co-occur adjacently, each contributing ≈ c(w1·) — the signal a
    * bag-of-words score (t15 scores a permuted doc identically) is
    * blind to. Self-scoring the training corpus needs no smoothing:
    * every scored bigram is in the census by construction, so the
    * ratio is a division of two positive BIGINTs.
    *
    * LOG-FREE by the t06/t15 rule (one correctly-rounded IEEE divide,
    * bit-identical in both engines; Σ −log P needs a transcendental
    * neither engine rounds correctly); the per-doc mean rides a
    * decimal sum (§4), max_surprise is a max over identical doubles.
    *
    * Scale shape: t15's envelope exactly — ONE corpus-sized explode
    * feeds a bigram-keyed map-side-combining census, the left-context
    * census derives from the (Heaps'-bounded) bigram table, probs =
    * census⋈census is vocabulary-sized, and the one corpus-sized
    * exchange is the SHUFFLE_HASH join-back of the bigram stream
    * against probs (build = probs; unhinted this would sort-merge and
    * SORT the power-law bigram stream — the t15/d17/g27 census rule).
    * Docs with <2 tokens have no bigrams and no row, mirrored by the
    * oracle's inner join.
    */
  /** The corpus's adjacent-token-pair stream: (doc_id, bigram) with
    * bigram = "w1 w2" (tokens cannot contain the separator — they come
    * from a split on it). Shared by t20 and [[BigramLmIndex]] so the
    * registered query and the incremental census can never drift.
    */
  private[graft] def bigramStream(docs: DataFrame): DataFrame =
    docs.withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2 THEN
             transform(sequence(1, size(toks) - 1),
               i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))
           ELSE array() END""")).as("bigram"))

  private def t20(s: SparkSession, dir: String): DataFrame = {
    val big = bigramStream(Tables(s, dir, "documents"))
    val c12 = big.groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
    val c1 = c12
      .groupBy(expr("split_part(bigram, ' ', 1)").as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val probs = c12
      .withColumn("w1", expr("split_part(bigram, ' ', 1)"))
      .join(c1.hint("SHUFFLE_HASH"), Seq("w1"))
      .select(col("bigram"), col("c12"), col("c1"))
    surprise(big.join(probs.hint("SHUFFLE_HASH"), Seq("bigram")))
      .orderBy(col("doc_id"))
  }

  /** t20's per-doc score over a bigram stream carrying its counts
    * (doc_id, c12, c1): n_bigrams, and the mean and max of the inverse
    * conditional probability c1/c12. The streaming LM scorer scores
    * each micro-batch with it.
    */
  private[graft] def surprise(counted: DataFrame): DataFrame = {
    val ratio = col("c1").cast("double") / col("c12").cast("double")
    counted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (graft.par.dsum(ratio, 6) / count(lit(1))).as("surprise"),
        max(ratio).as("max_surprise"))
  }

  private val t20Sql = s"""
    WITH big AS MATERIALIZED (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
          list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
        ELSE [] END) AS bigram
      FROM (SELECT doc_id, $toksDuck AS toks FROM documents)),
    c12 AS MATERIALIZED (SELECT bigram, count(*) AS c12 FROM big GROUP BY bigram),
    c1 AS MATERIALIZED (
      SELECT split_part(bigram, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
      FROM c12 GROUP BY 1),
    probs AS MATERIALIZED (
      SELECT bigram, c12, c1
      FROM (SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1 FROM c12)
      JOIN c1 USING (w1))
    SELECT doc_id, count(*) AS n_bigrams,
      ${graft.par.dsumSql("CAST(c1 AS DOUBLE) / CAST(c12 AS DOUBLE)", 6)}
        / count(*) AS surprise,
      MAX(CAST(c1 AS DOUBLE) / CAST(c12 AS DOUBLE)) AS max_surprise
    FROM big JOIN probs USING (bigram)
    GROUP BY doc_id ORDER BY doc_id"""

  /** Public handles for pipelines composing on quality (e.g. d08). */
  def qualityScores(s: SparkSession, dir: String): DataFrame = t02(s, dir)
  def qualityScoreSql: String = t02Sql

  val ops: Seq[Op] = Seq(
    Op("t01_token_count", t01, Some(t01Sql)),
    Op("t02_quality_score", t02, Some(t02Sql)),
    Op("t03_langid", t03, Some(t03Sql)),
    Op("t04_fingerprint", t04, Some(t04Sql)),
    Op("t05_bigrams", t05, Some(t05Sql)),
    Op("t06_tfidf", t06, Some(t06Sql)),
    Op("t07_vocab_coverage", t07, Some(t07Sql)),
    Op("t08_winnow_fingerprint", t08, Some(t08Sql)),
    Op("t09_normalize", t09, Some(t09Sql)),
    Op("t10_repetition", t10, Some(t10Sql)),
    Op("t11_token_chunks", t11, Some(t11Sql)),
    Op("t12_heavy_hitters", t12, Some(t12Sql)),
    Op("t13_weighted_sample", t13, Some(t13Sql)),
    Op("t14_dup_spans", t14, Some(t14Sql)),
    Op("t15_rarity_score", t15, Some(t15Sql)),
    Op("t16_span_excision", t16, Some(t16Sql)),
    Op("t17_pii_redaction", t17, Some(t17Sql)),
    Op("t20_bigram_surprise", t20, Some(t20Sql)))

  // ---- t14: corpus-wide duplicated-span removal -----------------------
  /** The Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better" operator shape: the d-family drops whole
    * DOCUMENTS, but the standard pipeline also finds SPANS repeated
    * across documents (license boilerplate, navigation chrome, quoted
    * passages) and drops those. Composition of t08's winnowing
    * machinery with a corpus-wide census: per doc, each winnowing
    * window (4 consecutive 3-gram rolling hashes) yields a
    * fingerprint + its first token position; a fingerprint seen in
    * ≥ 2 documents marks every holder's span as duplicated. Output:
    * one row per (doc, repeated fingerprint) — (doc_id, start_tok,
    * end_tok, n_dup_docs), the span being tokens start_tok..end_tok
    * (1-indexed inclusive: window j covers grams j..j+3, each 3
    * tokens wide → tokens j..j+5). Docs with < 4 grams (< 6 tokens)
    * have no windows and emit nothing.
    *
    * Scale shape: shingling/hashing is per-row codegen (every
    * intermediate bound as its own column — the t08 lesson); the only
    * exchanges are keyed by (doc_id, fp) and fp — bounded by the
    * FINGERPRINT count (≈ one per token), never token pairs; the
    * census join back is one row per fingerprint, so a boilerplate
    * span shared by millions of docs costs one hash-join probe per
    * holder, not a skewed sort.
    */
  /** The per-doc rolling-hash table behind t14, MATERIALIZED
    * (MatStore, the m04-fingerprint lifecycle) before anything filters
    * or explodes it. This is load-bearing, not a cache nicety:
    * Catalyst pushes filters through projects by INLINING the
    * projected expression into the predicate with no cost model, and
    * `explode` adds an inferred `size(w) > 0` filter of its own
    * (InferFiltersFromGenerate) — without the barrier those
    * predicates sink below the repartition as the whole
    * text→toks→k3→hs chain inlined SEVERAL times over raw text, and
    * the scan-side (single input split locally, and always the
    * narrowest stage on a cluster) evaluates the interpreted-HOF hash
    * pipeline ~10× per row. Measured at sf0.01: 39.9 s → 1.4 s for
    * the identical result; at sf1 the unbarriered form did not finish
    * in 40 minutes. The materialized frame is doc-count-sized (one
    * ~45-long array per doc), and the hash chain runs exactly once
    * per doc, post-repartition, on every core.
    */
  private def winnowHashes(s: SparkSession, dir: String): DataFrame =
    graft.util.MatStore.table(s, s"winhs2:$dir", "graft_winhs2")(
      Tables(s, dir, "documents")
        .repartition(graft.util.Par.shufflePartitions(s))
        .withColumn("toks", expr(toksExpr))
        .withColumn("k3", expr(winnowK3Expr))
        .withColumn("hs", expr(winnowHsExpr))
        // toks rides along for t16's excision projection: reading it
        // from the materialized leaf means the cleaned-token HOFs bind
        // to a stored column (multiple references are free), never to
        // the inlined split chain — the same pushdown-inlining hazard
        // this barrier exists for; t14 doesn't select it, so parquet
        // column pruning keeps its scan unchanged
        .select(col("doc_id"), col("toks"), col("hs")))

  private def t14(s: SparkSession, dir: String): DataFrame = {
    val perDoc = winnowHashes(s, dir)
      .filter(expr("size(hs) >= 4"))
      .withColumn("w", expr(winnowWinExpr))
      .select(col("doc_id"), explode(col("w")).as("w"))
      .select(col("doc_id"), col("w.fp").as("fp"), col("w.pos").cast("long").as("pos"))
      .groupBy(col("doc_id"), col("fp"))
      .agg(min(col("pos")).as("start_tok"))
    val census = perDoc.groupBy(col("fp")).agg(count(lit(1)).as("n_dup_docs"))
    // hash join, not sort-merge: a boilerplate fingerprint held by
    // millions of docs makes fp power-law, and SMJ would sort the
    // (doc, fp) stream on it (the d17/g27 census rule)
    perDoc.join(census.filter(col("n_dup_docs") >= 2).hint("SHUFFLE_HASH"), Seq("fp"))
      .select(col("doc_id"), col("start_tok"),
        (col("start_tok") + 5).as("end_tok"), col("n_dup_docs"))
      .orderBy(col("doc_id"), col("start_tok"))
  }

  // ---- t16: duplicated-span EXCISION ---------------------------------
  /** The other half of Lee et al. 2022: t14 DETECTS duplicated spans;
    * t16 REMOVES them and ships the cleaned token stream plus a
    * removal census — what a training pipeline actually writes back
    * out. Semantics: a winnowing window (t14's fingerprint contract)
    * held by >= 2 documents marks tokens j..j+5 in EVERY holder at
    * EVERY occurrence (t14 keeps only the first occurrence — the one
    * semantic change); overlapping/adjacent marked windows merge into
    * maximal spans per doc; every covered token is excised. Output one
    * row per document (including docs too short to have windows):
    * (doc_id, tokens_before, tokens_removed, tokens_after, n_spans,
    * cleaned_text) with cleaned_text the space-joined surviving
    * tokens.
    *
    * Determinism: positions are integers; the only collected arrays
    * are doc-local and explicitly sorted before use.
    *
    * Scale shape: the heavy lifting reuses [[winnowHashes]]'s
    * memoized barrier (one shingling pass per corpus, shared with
    * t14); exchanges are keyed by (doc_id, fp), fp (census — one row
    * per fingerprint, SHUFFLE_HASH-hinted against the power-law key),
    * and doc_id — all bounded by window counts, never token pairs.
    * The span merge is SORT-FREE at the exchange level: marked
    * positions collect into a per-doc array (winnowing-window-sized,
    * the same envelope as the hs array itself) and merge inside a
    * per-row projection. The excision projection is O(n_tok +
    * 6·n_marked) per doc (r16): kept indices come from array_except's
    * hash-set membership over the flattened removal intervals, so even
    * a book-length doc with massive duplication stays linear and
    * doc-local.
    */
  private def t16(s: SparkSession, dir: String): DataFrame = {
    val src = winnowHashes(s, dir)
    val perDocFp = src
      .filter(expr("size(hs) >= 4"))
      .withColumn("w", expr(winnowWinExpr))
      .select(col("doc_id"), explode(col("w")).as("w"))
      .select(col("doc_id"), col("w.fp").as("fp"), col("w.pos").cast("long").as("pos"))
      .groupBy(col("doc_id"), col("fp"))
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
    val census = perDocFp.groupBy(col("fp")).agg(count(lit(1)).as("n_dup_docs"))
    // window positions are unique per (doc, pos) — each position has
    // exactly one fp — so the flatten needs no distinct
    val marked = perDocFp
      .join(census.filter(col("n_dup_docs") >= 2).hint("SHUFFLE_HASH"), Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(array_sort(flatten(collect_list(col("ps")))).as("ps"))
    exciseSpans(src.select(col("doc_id"), col("toks")), marked)
      .orderBy(col("doc_id"))
  }

  private lazy val t16Sql: String = s"""
    WITH hsrc AS MATERIALIZED (
      SELECT doc_id, toks, $winnowHsDuck AS hs
      FROM (SELECT doc_id, $toksDuck AS toks FROM documents)),
    wins AS (
      SELECT doc_id, unnest(list_transform(range(1, len(hs) - 2),
        j -> {'fp': list_min(hs[j:j+3]), 'pos': j})) AS w
      FROM hsrc WHERE len(hs) >= 4),
    perdocfp AS (
      SELECT doc_id, w.fp AS fp,
        list_sort(list(DISTINCT CAST(w.pos AS BIGINT))) AS ps
      FROM wins GROUP BY 1, 2),
    census AS (SELECT fp, count(*) AS n_dup_docs FROM perdocfp GROUP BY 1),
    marked AS (
      SELECT doc_id, list_sort(flatten(list(ps))) AS ps
      FROM perdocfp JOIN census USING (fp)
      WHERE n_dup_docs >= 2 GROUP BY doc_id),
    j AS (
      SELECT h.doc_id, h.toks, COALESCE(m.ps, []) AS ps
      FROM hsrc h LEFT JOIN marked m USING (doc_id)),
    k AS (
      SELECT doc_id, toks, ps,
        CASE WHEN len(toks) = 0 THEN []
        ELSE list_filter(list_transform(range(1, len(toks) + 1),
          i -> CASE WHEN len(list_filter(ps, p -> i >= p AND i <= p + 5)) > 0
               THEN NULL ELSE toks[i] END),
          x -> x IS NOT NULL) END AS kept
      FROM j)
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS tokens_before,
      CAST(len(toks) - len(kept) AS BIGINT) AS tokens_removed,
      CAST(len(kept) AS BIGINT) AS tokens_after,
      CASE WHEN len(ps) = 0 THEN CAST(0 AS BIGINT)
      ELSE CAST(len(list_filter(range(1, len(ps) + 1),
        i -> CASE WHEN i = 1 THEN TRUE ELSE ps[i] - ps[i - 1] > 6 END)) AS BIGINT)
      END AS n_spans,
      COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
    FROM k ORDER BY doc_id"""

  private lazy val t14Sql: String = s"""
    WITH hsrc AS MATERIALIZED (
      SELECT doc_id, $winnowHsDuck AS hs
      FROM (SELECT doc_id, $toksDuck AS toks FROM documents)),
    wins AS (
      SELECT doc_id, unnest(list_transform(range(1, len(hs) - 2),
        j -> {'fp': list_min(hs[j:j+3]), 'pos': j})) AS w
      FROM hsrc WHERE len(hs) >= 4),
    perdoc AS (
      SELECT doc_id, w.fp AS fp, CAST(MIN(w.pos) AS BIGINT) AS start_tok
      FROM wins GROUP BY 1, 2),
    census AS (SELECT fp, count(*) AS n_dup_docs FROM perdoc GROUP BY 1)
    SELECT p.doc_id, p.start_tok, p.start_tok + 5 AS end_tok, c.n_dup_docs
    FROM perdoc p JOIN census c USING (fp)
    WHERE c.n_dup_docs >= 2
    ORDER BY doc_id, start_tok"""
}
