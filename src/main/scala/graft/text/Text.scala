package graft.text

import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.gfunctions._
import graft.sources.Tables

/** Text analysis for training-data pipelines (SURVEY.md §2.C), over the
  * `documents` table. Everything is built from codegen'd collection
  * functions (no UDFs): tokenization stays inside whole-stage codegen
  * and scales as a pure map over the scan — no shuffle except final
  * aggregates.
  */
object Text {

  /** Whitespace-normalized token array. */
  def toks(c: Column): Column = split(regexp_replace(trim(c), "\\s+", " "), " ")

  /** Oracle-side equivalent (DuckDB needs the 'g' flag). */
  val ToksSql = "string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')"

  /** Normalized document text (for fingerprint / exact dedup). */
  def normText(c: Column): Column = regexp_replace(trim(lower(c)), "\\s+", " ")
  val NormSql = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
  private val stopSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** Oracle-side replay of gfunctions.polyHash over an arbitrary SQL
    * string expression.
    */
  /** Lambda vars are deliberately obscure: this SQL nests inside
    * callers' own lambdas (e.g. a list_filter over positions named i)
    * and DuckDB lambda variables shadow lexically.
    */
  def polySqlPublic(colExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, length($colExpr) + 1),
       |    __phi -> CAST(ascii(substr($colExpr, CAST(__phi AS INT), 1)) AS BIGINT))),
       |  (__pha, __phc) -> (__pha * 31 + __phc) % 2147483647)""".stripMargin

  /** t_token_stats: token/char counting (the "token counting" op —
    * whitespace tokenizer; a BPE-ish regex variant is in quality).
    */
  val tokenStats = GraftQuery(
    "t_token_stats",
    Some(s"""
      WITH d AS (SELECT doc_id, text, $ToksSql AS t FROM documents)
      SELECT doc_id,
             len(t) AS n_tokens,
             length(text) AS text_len,
             len(list_distinct(t)) AS n_distinct,
             CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS mean_token_len
      FROM d
      ORDER BY doc_id"""),
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("t", toks(col("text")))
        .select(
          col("doc_id"),
          size(col("t")).as("n_tokens"),
          length(col("text")).as("text_len"),
          size(array_distinct(col("t"))).as("n_distinct"),
          // safeDiv: empty document ⇒ NULL mean (DuckDB len(t)=0 →
          // NULL), not an ANSI divide-by-zero.
          safeDiv(aggregate(transform(col("t"), x => length(x)), lit(0), (a, b) => a + b)
            .cast("double"), size(col("t"))).as("mean_token_len"))
        .orderBy("doc_id"),
  )

  /** t_quality_score: stopword ratio + lexical-diversity quality score
    * (the usual pre-training quality heuristics).
    */
  val qualityScore = GraftQuery(
    "t_quality_score",
    Some(s"""
      WITH d AS (SELECT doc_id, n_chars, $ToksSql AS t FROM documents)
      SELECT doc_id,
             len(list_filter(t, x -> x IN ($stopSql))) AS n_stop,
             CAST(len(list_filter(t, x -> x IN ($stopSql))) AS DOUBLE) / len(t) AS stop_ratio,
             CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS diversity,
             ROUND(0.5 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                 + 0.5 * (1.0 - CAST(len(list_filter(t, x -> x IN ($stopSql))) AS DOUBLE) / len(t)), 4) AS quality,
             n_chars < 200 AS is_short
      FROM d
      ORDER BY doc_id"""),
    (s, d) => {
      val stopArr = array(stopwords.map(lit): _*)
      val t = col("t")
      val nStop = size(filter(t, x => array_contains(stopArr, x)))
      val stopRatio = safeDiv(nStop.cast("double"), size(t))
      val diversity = safeDiv(size(array_distinct(t)).cast("double"), size(t))
      Tables.documents(s, d)
        .withColumn("t", toks(col("text")))
        .select(
          col("doc_id"),
          nStop.as("n_stop"),
          stopRatio.as("stop_ratio"),
          diversity.as("diversity"),
          round(lit(0.5) * diversity + lit(0.5) * (lit(1.0) - stopRatio), 4).as("quality"),
          (col("n_chars") < 200).as("is_short"))
        .orderBy("doc_id")
    },
  )

  /** t_langid: marker-lexicon language ID with deterministic
    * alphabetical tie-break ('und' when no marker hits).
    */
  val langid = GraftQuery(
    "t_langid",
    Some(s"""
      WITH d AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
      sc AS (SELECT doc_id, lang,
               len(list_filter(t, x -> x IN ('der', 'und', 'das'))) AS s_de,
               len(list_filter(t, x -> x IN ('the', 'and', 'of')))  AS s_en,
               len(list_filter(t, x -> x IN ('el', 'la', 'los')))   AS s_es,
               len(list_filter(t, x -> x IN ('le', 'les', 'et')))   AS s_fr
             FROM d)
      SELECT doc_id, lang,
             CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS predicted,
             CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END = lang AS is_match
      FROM sc
      ORDER BY doc_id"""),
    (s, d) => {
      def score(words: String*) = {
        val arr = array(words.map(lit): _*)
        size(filter(col("t"), x => array_contains(arr, x)))
      }
      val withScores = Tables.documents(s, d)
        .withColumn("t", toks(col("text")))
        .select(col("doc_id"), col("lang"),
          score("der", "und", "das").as("s_de"),
          score("the", "and", "of").as("s_en"),
          score("el", "la", "los").as("s_es"),
          score("le", "les", "et").as("s_fr"))
      val pred = when(col("s_de") + col("s_en") + col("s_es") + col("s_fr") === 0, "und")
        .when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr")
      withScores
        .select(col("doc_id"), col("lang"), pred.as("predicted"), (pred === col("lang")).as("is_match"))
        .orderBy("doc_id")
    },
  )

  /** t_fingerprint: rolling polynomial hash of the normalized text —
    * engine-portable (see gfunctions.polyHash), reproduced in the
    * oracle with list_reduce over character codes.
    */
  val fingerprint = GraftQuery(
    "t_fingerprint",
    Some(s"""
      WITH d AS (SELECT doc_id, $NormSql AS s FROM documents)
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(s) + 1),
                 i -> CAST(ascii(substr(s, CAST(i AS INT), 1)) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647) AS fp
      FROM d
      ORDER BY doc_id"""),
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), polyHash(normText(col("text"))).as("fp"))
        .orderBy("doc_id"),
  )

  /** t_bigram_freq: global top-30 bigram counts. */
  val bigramFreq = GraftQuery(
    "t_bigram_freq",
    Some(s"""
      WITH d AS (SELECT doc_id, $ToksSql AS t FROM documents),
      bg AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram FROM d)
      SELECT bigram, COUNT(*) AS cnt
      FROM bg
      GROUP BY bigram
      ORDER BY cnt DESC, bigram
      LIMIT 30"""),
    (s, d) => {
      val t = col("t")
      Tables.documents(s, d)
        .withColumn("t", toks(col("text")))
        .select(explode(when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
          .otherwise(array().cast("array<string>"))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(30)
    },
  )

  /** t_rep_ngrams: per-document repetition profile — the
    * Gopher/C4-style repetition quality filters: the fraction of
    * bigram mass held by the single most frequent bigram, and the
    * fraction of trigram occurrences belonging to repeated trigrams.
    * Template-generated and looping documents (the classic web-crawl
    * failure modes) spike both. Shape: explode grams → one
    * partial-agg'd shuffle keyed (doc, gram) → per-doc aggregate;
    * work scales with gram postings, never docs².
    */
  val repNgrams = GraftQuery(
    "t_rep_ngrams",
    Some(s"""
      WITH d AS (SELECT doc_id, $ToksSql AS t FROM documents),
      bg0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> t[i] || ' ' || t[i + 1])) AS g FROM d),
      bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg0 GROUP BY 1, 2),
      bga AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_c
              FROM bgc GROUP BY doc_id),
      tg0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g FROM d),
      tgc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg0 GROUP BY 1, 2),
      tga AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
                CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_c
              FROM tgc GROUP BY doc_id)
      SELECT d.doc_id,
             coalesce(bga.n_bigrams, 0) AS n_bigrams,
             coalesce(ROUND(CAST(bga.top_c AS DOUBLE) / bga.n_bigrams, 4), 0.0)
               AS top_bigram_frac,
             coalesce(ROUND(CAST(tga.dup_c AS DOUBLE) / nullif(tga.n_trigrams, 0), 4), 0.0)
               AS dup_trigram_frac
      FROM d LEFT JOIN bga USING (doc_id) LEFT JOIN tga USING (doc_id)
      ORDER BY doc_id"""),
    (s, d) => repetitionProfile(Tables.documents(s, d)).orderBy("doc_id"),
  )

  /** Per-doc repetition profile for any (doc_id, text) frame —
    * (doc_id, n_bigrams, top_bigram_frac, dup_trigram_frac).
    */
  def repetitionProfile(docsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val docs = docsIn.withColumn("t", toks(col("text")))
    def grams(n: Int) = when(size(col("t")) >= n,
      transform(sequence(lit(1), size(col("t")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(col("t"), i + o)): _*)))
      .otherwise(array().cast("array<string>"))
    val bg = docs.select(col("doc_id"), explode(grams(2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), max("c").as("top_c"))
    val tg = docs.select(col("doc_id"), explode(grams(3)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_trigrams"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_c"))
    docs.select("doc_id")
      .join(bg, Seq("doc_id"), "left").join(tg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(safeDiv(col("top_c"), col("n_bigrams")), 4), lit(0.0))
          .as("top_bigram_frac"),
        coalesce(round(safeDiv(col("dup_c"), col("n_trigrams")), 4), lit(0.0))
          .as("dup_trigram_frac"))
  }

  /** t_tfidf: top-3 TF-IDF terms per document (probe set doc_id < 50;
    * DF is still global). Two aggregations + a broadcast of the tiny
    * doc-count scalar; ranking rounds the score first so the
    * cross-engine float compare is on the rounded value.
    */
  val tfidf = GraftQuery(
    "t_tfidf",
    Some(s"""
      WITH d AS (SELECT doc_id, $ToksSql AS t FROM documents),
      tok AS (SELECT doc_id, unnest(t) AS token FROM d),
      tf AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token),
      df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.token,
               ROUND(tf.c * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS score
             FROM tf JOIN df USING (token) CROSS JOIN n
             WHERE tf.doc_id < 50),
      r AS (SELECT doc_id, token, score,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
            FROM sc)
      SELECT doc_id, token, score, rnk
      FROM r WHERE rnk <= 3
      ORDER BY doc_id, rnk"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tf = docs.withColumn("t", toks(col("text")))
        .select(col("doc_id"), explode(col("t")).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
      tf.filter(col("doc_id") < 50)
        .join(df, Seq("token"))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("token"),
          round(col("c") * log(col("n_docs").cast("double") / col("df")), 4).as("score"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("doc_id", "token", "score", "rnk")
        .orderBy("doc_id", "rnk")
    },
  )

  /** t_bpe_tokens: BPE-style pre-tokenization — regex pieces (letter
    * runs / digit runs / single other-glyphs), the split a BPE encoder
    * applies before merges. Pure regexp_extract_all map + counts.
    */
  val bpeTokens = GraftQuery(
    "t_bpe_tokens",
    Some("""
      WITH p AS (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS pieces
                 FROM documents)
      SELECT doc_id,
             len(pieces) AS n_pieces,
             len(list_filter(pieces, x -> regexp_matches(x, '^[a-z]+$'))) AS n_word_pieces,
             len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]+$'))) AS n_num_pieces
      FROM p
      ORDER BY doc_id"""),
    (s, d) => {
      val pieces = expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")
      Tables.documents(s, d)
        .select(col("doc_id"), pieces.as("pieces"))
        .select(col("doc_id"),
          size(col("pieces")).as("n_pieces"),
          size(filter(col("pieces"), x => x.rlike("^[a-z]+$"))).as("n_word_pieces"),
          size(filter(col("pieces"), x => x.rlike("^[0-9]+$"))).as("n_num_pieces"))
        .orderBy("doc_id")
    },
  )

  /** Number of BPE merge-training rounds (fixed so the oracle replay
    * is a bounded generated-CTE chain, like the Lloyd unrolls in Sim).
    */
  private val BpeMergeRounds = 50

  /** The oracle's training replay, shared by t_bpe_merges (ships the
    * merge table from b1..bR) and t_bpe_encode (encodes from the
    * final vocab state vR): w0/v0 seed + per round (pair count pR,
    * argmax bR, rewrite vR). MATERIALIZED because each v{r} is
    * referenced twice per round — DuckDB's default inlining would
    * re-expand the chain exponentially.
    */
  private lazy val bpeTrainCtes: String = (Seq(
    """w0 AS MATERIALIZED (SELECT piece, COUNT(*) AS freq FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS piece
      FROM documents) GROUP BY piece)""",
    """v0 AS MATERIALIZED (SELECT ' ' || array_to_string(
        list_transform(range(1, length(piece) + 1), __ci -> piece[__ci]), '  ') || ' ' AS repr,
        freq FROM w0)""") ++
    (1 to BpeMergeRounds).flatMap { r =>
      Seq(
        s"""p$r AS (SELECT sym[__bi] AS lft, sym[__bi + 1] AS rgt,
            CAST(SUM(freq) AS BIGINT) AS cnt
          FROM (SELECT sym, freq, unnest(range(1, len(sym))) AS __bi
                FROM (SELECT str_split(trim(repr), '  ') AS sym, freq FROM v${r - 1}))
          GROUP BY 1, 2)""",
        s"""b$r AS MATERIALIZED (SELECT lft, rgt, cnt FROM p$r
          ORDER BY cnt DESC, lft, rgt LIMIT 1)""",
        s"""v$r AS MATERIALIZED (SELECT
            replace(repr, ' ' || lft || '  ' || rgt || ' ', ' ' || lft || rgt || ' ') AS repr,
            freq
          FROM v${r - 1} CROSS JOIN b$r)""")
    }).mkString(",\n")

  /** t_bpe_merges: corpus-level BPE merge TRAINING — the actual
    * tokenizer-build step of an LLM data pipeline (t_bpe_tokens above
    * only pre-tokenizes). Classic algorithm, Spark-shaped:
    *
    *  - The corpus-sized work happens ONCE: pre-token pieces (same
    *    regex as t_bpe_tokens) aggregate to a (piece, freq) word
    *    table. Every training round after that runs on the VOCAB
    *    (bounded by distinct pre-tokens, ~10⁵–10⁷ at any corpus
    *    size), never on raw documents — the trick that makes BPE
    *    training corpus-size-independent after one pass.
    *  - Per round (same bounded-iteration shape as d_components): one
    *    tiny shuffle counts adjacent symbol pairs weighted by word
    *    freq; the argmax pair (tie-break: count desc, then left/right
    *    token — deterministic) is a 1-row collect; the merge rewrites
    *    every word map-side.
    *  - Word state is a double-space-joined symbol string
    *    (" l o w ") so the rewrite is a plain substring replace:
    *    replace(" l  o ", " lo ") consumes each symbol's flanking
    *    spaces, which makes non-overlapping left-to-right replacement
    *    EXACTLY the greedy BPE merge fold ([a,a,a,a] → [aa,aa], not
    *    [aa,a,a]) — and byte-identical between Spark and DuckDB.
    *
    * Output is the merge table itself (rank, lft, rgt, merged,
    * pair_count) — the artifact a tokenizer ships. The oracle replays
    * all rounds as generated CTEs (MATERIALIZED: v{r} is referenced
    * twice per round, and DuckDB's default inlining would otherwise
    * re-expand the whole chain exponentially).
    */
  val bpeMerges = GraftQuery(
    "t_bpe_merges",
    Some {
      val union = (1 to BpeMergeRounds)
        .map(r => s"SELECT $r AS rank, lft, rgt, lft || rgt AS merged, cnt AS pair_count FROM b$r")
        .mkString("\nUNION ALL ")
      "WITH " + bpeTrainCtes + "\nSELECT * FROM (" + union + ") ORDER BY rank"
    },
    (s, d) => {
      import s.implicits._
      bpeTrained(s, d, BpeMergeRounds)._1.toDF("rank", "lft", "rgt", "pair_count")
        .select(col("rank"), col("lft"), col("rgt"),
          concat(col("lft"), col("rgt")).as("merged"), col("pair_count"))
        .orderBy("rank")
    },
  )

  /** t_bpe_encode: ENCODE the corpus with the trained tokenizer — the
    * apply half of the t_bpe_merges train/apply loop (the token-count
    * pass that prices a pretraining run). The trick that keeps it
    * corpus-size-independent: merges never touch documents — the
    * trained vocabulary (every distinct pre-token piece, already in
    * its post-50-merge symbol form from training) IS the encoder
    * table, `piece → n_sym` recovered by stripping the symbol
    * separators. The only corpus-sized work is the pre-token explode
    * and one join of corpus pieces to the vocab-sized encoder
    * (shuffle on piece; common-word skew is AQE skew-join territory)
    * + a per-doc aggregate. Oracle: replays the training chain (same
    * generated CTEs as t_bpe_merges) and encodes from v50 directly.
    */
  val bpeEncode = GraftQuery(
    "t_bpe_encode",
    Some {
      // identical training replay to t_bpe_merges (bpeTrainCtes),
      // then the encoder table from the final vocab state
      val encode = s"""
        enc AS (SELECT replace(repr, ' ', '') AS piece,
                  len(str_split(trim(repr), '  ')) AS n_sym
                FROM v$BpeMergeRounds),
        dp AS (SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS piece
               FROM documents)
        SELECT doc_id, COUNT(*) AS n_pieces,
               CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(n_sym) AS DOUBLE) / COUNT(*), 4) AS tokens_per_piece
        FROM dp JOIN enc USING (piece)
        GROUP BY doc_id ORDER BY doc_id"""
      "WITH " + bpeTrainCtes + ",\n" + encode
    },
    (s, d) => bpeEncodeDocs(Tables.documents(s, d), bpeTrained(s, d, BpeMergeRounds)._2),
  )

  /** Encode any (doc_id, text) frame with a trained final-vocab frame
    * (repr, freq): per-doc pre-token count, post-merge token count,
    * and tokens-per-piece ratio.
    */
  private[graft] def bpeEncodeDocs(docs: DataFrame, vocabFinal: DataFrame): DataFrame = {
    // the encoder side is vocab-sized and CHECKPOINTED, so its
    // LogicalRDD carries real block-size stats and the planner already
    // broadcasts it (r18 audit: BroadcastHashJoin BuildRight in the
    // committed plan; forcing it measured exact parity at sf10 ISO —
    // the op's wall is the corpus regexp/explode, not the join)
    val enc = vocabFinal.select(
      translate(col("repr"), " ", "").as("piece"),
      size(split(trim(col("repr")), "  ")).as("n_sym"))
    val pieces = expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")
    docs
      .select(col("doc_id"), explode(pieces).as("piece"))
      .join(enc, Seq("piece"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pieces"),
        sum("n_sym").as("n_tokens"),
        round(sum("n_sym").cast("double") / count(lit(1)), 4).as("tokens_per_piece"))
      .orderBy("doc_id")
  }

  /** The merge-training loop over any (doc_id, text) frame. Driver
    * state per round is ONE argmax row (and the final merge table,
    * `rounds` rows) — never data-sized.
    */
  private[graft] def bpeTrain(s: org.apache.spark.sql.SparkSession, docs: DataFrame,
                              rounds: Int): DataFrame = {
    import s.implicits._
    bpeTrainState(s, docs, rounds)._1.toDF("rank", "lft", "rgt", "pair_count")
      .select(col("rank"), col("lft"), col("rgt"),
        concat(col("lft"), col("rgt")).as("merged"), col("pair_count"))
      .orderBy("rank")
  }

  /** Training + the post-merge vocabulary, memoized per data dir —
    * t_bpe_merges ships the merge table, t_bpe_encode applies the
    * final vocab; both run in one harness session and the train must
    * not repeat. The vocab frame is checkpointed (releaseAfter), so
    * the memo survives consumer lifecycles until Caching.releaseAll.
    */
  private val bpeMemo = scala.collection.mutable.Map[
    String, (org.apache.spark.sql.SparkSession, (Seq[(Int, String, String, Long)], DataFrame))]()
  graft.Caching.onReleaseAll(() => bpeMemo.synchronized(bpeMemo.clear()))

  private[graft] def bpeTrained(s: org.apache.spark.sql.SparkSession,
      d: String, rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) =
    bpeMemo.synchronized {
      bpeMemo.get(d) match {
        case Some((sess, st)) if (sess eq s) && !s.sparkContext.isStopped => st
        case _ =>
          val st = bpeTrainState(s, Tables.documents(s, d), rounds)
          graft.Caching.retain(st._2)
          bpeMemo(d) = (s, st)
          st
      }
    }

  private[graft] def bpeTrainState(s: org.apache.spark.sql.SparkSession, docs: DataFrame,
                            rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    val pieces = expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")
    // the one corpus-sized pass: pre-token pieces → (piece, freq)
    var vocab = graft.Caching.releaseAfter(
      docs.select(explode(pieces).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("freq"))
        .select(concat(lit(" "),
          concat_ws("  ", transform(sequence(lit(1), length(col("piece"))),
            i => col("piece").substr(i, lit(1)))), lit(" ")).as("repr"),
          col("freq"))
        // vocab-sized from here on: a handful of partitions beats 32
        // near-empty tasks per round (scale knob — a 10⁷-word vocab
        // would keep more)
        .coalesce(4))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 1 to rounds) {
      val sym = split(trim(col("repr")), "  ")
      // field names come from the cast: aliases inside a lambda are
      // stripped by the analyzer (same trick as Sim.distStructs)
      val pairsType = "array<struct<l:string,r:string>>"
      val pairsCol = when(size(sym) >= 2,
          transform(sequence(lit(1), size(sym) - 1),
            i => struct(element_at(sym, i), element_at(sym, i + 1))).cast(pairsType))
        .otherwise(typedLit(Seq.empty[(String, String)]).cast(pairsType))
      val best = vocab.select(col("freq"), explode(pairsCol).as("p"))
        .groupBy(col("p.l").as("lft"), col("p.r").as("rgt"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("lft"), col("rgt"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, rt, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, l, rt, c))
        vocab = vocab.select(
          replace(col("repr"), lit(s" $l  $rt "), lit(s" $l$rt ")).as("repr"),
          col("freq"))
        // truncate lineage every few rounds, not every round: the
        // rewrite is a narrow map, so a shallow chain of replaces is
        // free to recompute inside the next pair-count job, while a
        // per-round checkpoint would cost a full extra job per merge
        // (measured ~2× on the 50-round train)
        if (r % 5 == 0) vocab = graft.Caching.releaseAfter(vocab)
      }
    }
    (merges.toSeq, graft.Caching.releaseAfter(vocab))
  }

  /** t_split: deterministic stratified train/val/test split — the
    * portable polynomial hash of the doc id buckets each document
    * 80/10/10 within its language stratum. Reproducible across engines
    * and runs (never `rand()`: a re-run must yield the same split).
    */
  val split80 = GraftQuery(
    "t_split",
    Some(s"""
      WITH h AS (SELECT doc_id, lang,
                   ${polySqlPublic("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
                 FROM documents)
      SELECT lang,
             CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
             COUNT(*) AS n,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM h
      GROUP BY 1, 2
      ORDER BY lang, split"""),
    (s, d) => {
      val bucket = polyHash(col("doc_id").cast("string")) % 100
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .select(col("doc_id"), col("lang"),
          when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("lang", "split")
    },
  )

  /** t_vocab: corpus vocabulary — tokens above a document-frequency
    * floor, id'd by global frequency rank (deterministic tie-break on
    * the token). Two aggregations, map-side partials; top-500 probe.
    */
  val vocab = GraftQuery(
    "t_vocab",
    Some(s"""
      WITH d AS (SELECT doc_id, $ToksSql AS t FROM documents),
      tok AS (SELECT doc_id, unnest(t) AS token FROM d),
      tf AS (SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
             FROM tok GROUP BY token)
      SELECT token, cnt, df,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS vocab_id
      FROM tf
      WHERE df >= 3
      ORDER BY vocab_id
      LIMIT 500"""),
    (s, d) => {
      // rank AFTER the top-500 cut, not before: orderBy().limit() is
      // a distributed TakeOrderedAndProject (per-partition top-K +
      // driver merge), so the single-partition row_number window only
      // ever sees 500 rows — a global window over the full vocabulary
      // would funnel ~10^8 tokens at corpus scale through ONE
      // WindowExec task. Identical output: row_number over the same
      // total order commutes with taking its first 500 rows.
      val w = Window.orderBy(col("cnt").desc, col("token"))
      Tables.documents(s, d)
        .withColumn("t", toks(col("text")))
        .select(col("doc_id"), explode(col("t")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 3)
        .orderBy(col("cnt").desc, col("token"))
        .limit(500)
        .withColumn("vocab_id", row_number().over(w))
        .orderBy("vocab_id")
    },
  )

  /** PII scrub patterns — dialect-portable regex subset (no lookaround,
    * no backrefs: Java regex AND RE2/DuckDB execute them identically).
    */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** t_pii_scrub: PII detection + redaction over documents — the
    * pre-training compliance pass: count and replace emails / IPv4s /
    * phone numbers with typed placeholder tokens. Pure codegen'd regex
    * projections, no shuffle; patterns are restricted to the
    * Java∩RE2-portable subset so the oracle replays them byte-exactly.
    */
  val piiScrub = GraftQuery(
    "t_pii_scrub",
    Some(s"""
      SELECT doc_id,
             len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
             len(regexp_extract_all(text, '$Ipv4Re')) AS n_ips,
             len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
             length(regexp_replace(regexp_replace(regexp_replace(text,
               '$EmailRe', '[EMAIL]', 'g'), '$Ipv4Re', '[IP]', 'g'),
               '$PhoneRe', '[PHONE]', 'g')) AS scrubbed_len,
             md5(regexp_replace(regexp_replace(regexp_replace(text,
               '$EmailRe', '[EMAIL]', 'g'), '$Ipv4Re', '[IP]', 'g'),
               '$PhoneRe', '[PHONE]', 'g')) AS scrubbed_md5
      FROM documents
      ORDER BY doc_id"""),
    (s, d) => {
      val scrubbed = regexp_replace(regexp_replace(regexp_replace(col("text"),
        EmailRe, "[EMAIL]"), Ipv4Re, "[IP]"), PhoneRe, "[PHONE]")
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ips"),
          size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
          length(scrubbed).as("scrubbed_len"),
          md5(scrubbed.cast("binary")).as("scrubbed_md5"))
        .orderBy("doc_id")
    },
  )

  /** t_contamination: train/eval decontamination check — for every
    * val/test document (t_split's hash assignment), the fraction of
    * its 3-gram shingles that also occur in ANY train document. The
    * standard pre-eval hygiene pass: a high overlap means the eval doc
    * leaks training content. Shape: distinct train-gram set (one
    * aggregate) left-joined to the eval docs' gram rows — the join key
    * is the gram, so work scales with gram postings, never docs².
    */
  val contamination = GraftQuery(
    "t_contamination",
    Some(s"""
      WITH d AS (SELECT doc_id,
                   CASE WHEN ${polySqlPublic("CAST(doc_id AS VARCHAR)")} % 100 < 80
                     THEN 'train'
                     WHEN ${polySqlPublic("CAST(doc_id AS VARCHAR)")} % 100 < 90
                     THEN 'val' ELSE 'test' END AS split,
                   $ToksSql AS t
                 FROM documents),
      sh AS (SELECT DISTINCT doc_id, split,
               unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                 __ci -> t[__ci] || ' ' || t[__ci+1] || ' ' || t[__ci+2])) AS shingle
             FROM d),
      tg AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train')
      SELECT sh.doc_id, sh.split,
             COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN tg.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared,
             ROUND(CAST(SUM(CASE WHEN tg.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*), 4) AS contamination
      FROM sh LEFT JOIN tg USING (shingle)
      WHERE sh.split <> 'train'
      GROUP BY sh.doc_id, sh.split
      ORDER BY sh.doc_id"""),
    (s, d) => {
      val bucket = polyHash(col("doc_id").cast("string")) % 100
      val splitCol = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
      val sh = graft.dedup.Dedup.shingleSets(Tables.documents(s, d))
        .withColumn("split", splitCol)
        .select(col("doc_id"), col("split"), explode(col("shs")).as("shingle"))
      val trainGrams = sh.filter(col("split") === "train").select("shingle").distinct()
      sh.filter(col("split") =!= "train")
        .join(trainGrams.withColumn("in_train", lit(1)), Seq("shingle"), "left")
        .groupBy("doc_id", "split")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("in_train").isNotNull, 1).otherwise(0)).as("n_shared"),
          round(sum(when(col("in_train").isNotNull, 1).otherwise(0)).cast("double") /
            count(lit(1)), 4).as("contamination"))
        .orderBy("doc_id")
    },
  )

  /** t_sentences: sentence segmentation stats — split on terminal
    * punctuation runs (portable regex, no lookaround), per-doc sentence
    * count and length distribution. The unit most chunking/packing
    * stages operate on.
    */
  val sentences = GraftQuery(
    "t_sentences",
    Some("""
      WITH s AS (SELECT doc_id,
                   list_filter(string_split_regex(text, '[.!?]+'),
                     __si -> length(trim(__si)) > 0) AS sents
                 FROM documents)
      SELECT doc_id,
             len(sents) AS n_sentences,
             CAST(list_min(list_transform(sents, __sl -> length(trim(__sl)))) AS INT) AS min_len,
             CAST(list_max(list_transform(sents, __sl -> length(trim(__sl)))) AS INT) AS max_len,
             ROUND(CAST(list_sum(list_transform(sents, __sl -> length(trim(__sl)))) AS DOUBLE)
               / nullif(len(sents), 0), 4) AS mean_len
      FROM s
      ORDER BY doc_id"""),
    (s, d) => {
      val sents = filter(split(col("text"), "[.!?]+"),
        x => length(trim(x)) > 0)
      val lens = transform(col("sents"), x => length(trim(x)))
      Tables.documents(s, d)
        .select(col("doc_id"), sents.as("sents"))
        .select(col("doc_id"),
          size(col("sents")).as("n_sentences"),
          array_min(lens).as("min_len"),
          array_max(lens).as("max_len"),
          round(safeDiv(aggregate(lens, lit(0), (a, x) => a + x).cast("double"),
            size(col("sents"))), 4).as("mean_len"))
        .orderBy("doc_id")
    },
  )

  /** t_packing: sequence packing — the pretraining batching step:
    * documents are concatenated in a deterministic order and cut into
    * fixed 512-token context windows; each doc's window assignment is a
    * pure function of the running token offset (one cumulative-sum
    * window pass — same shape as sessionization, no sequential state).
    * Output: per-window doc count, token fill, and the fill ratio that
    * tells you how much padding the batch wastes.
    */
  val packing = GraftQuery(
    "t_packing",
    Some(s"""
      WITH d AS (SELECT doc_id, len($ToksSql) AS n_toks FROM documents),
      o AS (SELECT doc_id, n_toks,
              SUM(n_toks) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks AS toff
            FROM d),
      w AS (SELECT CAST(toff // 512 AS BIGINT) AS window_id, doc_id, n_toks FROM o)
      SELECT window_id,
             COUNT(*) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM w
      GROUP BY window_id
      ORDER BY window_id"""),
    (s, d) => {
      // distributed running offset (a global window would funnel the
      // table through ONE partition): range-repartition on the order,
      // local running sums, per-partition token totals as offsets —
      // driver state is one long per partition.
      val nParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val sorted = Tables.documents(s, d)
        .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_toks"))
        .repartitionByRange(nParts, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cumSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_toks",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("local_off",
          org.apache.spark.sql.types.LongType)))
      val local = sorted.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var run = 0L
        it.map { r =>
          val n = r.getLong(1)
          val off = run
          run += n
          org.apache.spark.sql.Row(r.getLong(0), n, pid, off)
        }
      }(org.apache.spark.sql.Encoders.row(cumSchema))
      val totals = local.groupBy("pid").agg(sum("n_toks").as("t")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toSeq
      val (withOff, _) = graft.PartitionOffsets.joinOffsets(local, totals)
      val out = withOff
        .select(col("doc_id"), col("n_toks"),
          floor((col("_off") + col("local_off")) / 512).cast("long").as("window_id"))
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("window_id")
      graft.Caching.releaseAfter(out, sorted)
    },
  )

  /** t_corpus_filter: the corpus cleaning pass — length floor,
    * stopword-ratio ceiling, lexical-diversity floor (the C4-style
    * heuristics), reported per language as kept/total/retention. One
    * scan, one aggregate; the filter predicates are pure codegen'd
    * column expressions, so at scale this is a map + partial-agg pass.
    */
  val corpusFilter = GraftQuery(
    "t_corpus_filter",
    Some(s"""
      WITH d AS (SELECT lang, n_chars, $ToksSql AS t FROM documents),
      f AS (SELECT lang,
              (n_chars >= 200 AND
               CAST(len(list_filter(t, x -> x IN ($stopSql))) AS DOUBLE) / nullif(len(t), 0) <= 0.5 AND
               CAST(len(list_distinct(t)) AS DOUBLE) / nullif(len(t), 0) >= 0.2) AS keep
            FROM d)
      SELECT lang,
             COUNT(*) AS n_total,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
               AS retention
      FROM f
      GROUP BY lang
      ORDER BY lang"""),
    (s, d) => {
      val stopArr = array(stopwords.map(lit): _*)
      val t = toks(col("text"))
      val stopRatio = safeDiv(
        size(filter(t, x => array_contains(stopArr, x))).cast("double"), size(t))
      val diversity = safeDiv(size(array_distinct(t)).cast("double"), size(t))
      val keep = col("n_chars") >= 200 && stopRatio <= 0.5 && diversity >= 0.2
      Tables.documents(s, d)
        .select(col("lang"), keep.as("keep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1).otherwise(0)).as("n_kept"),
          round(sum(when(col("keep"), 1).otherwise(0)).cast("double") /
            count(lit(1)), 4).as("retention"))
        .orderBy("lang")
    },
  )

  /** t_mixture: the training-data mixture report — per (source, lang):
    * document count, whitespace-token count, and each cell's share of
    * corpus documents and tokens. This is the table a data-mixture
    * decision (how much of each source/language goes into a training
    * run) reads first. One partial-agg shuffle on (source, lang); the
    * share windows run over the aggregated frame (tens of rows), never
    * raw documents — the same percent-of-total shape as
    * q_percent_of_total. Shares use the floor-based round-half-up (see
    * m25) since ratios land on arbitrary half-edges.
    */
  val mixture = GraftQuery(
    "t_mixture",
    Some(s"""
      WITH d AS (SELECT source, lang, len($ToksSql) AS nt FROM documents),
      g AS (SELECT source, lang, COUNT(*) AS n_docs,
              CAST(SUM(nt) AS BIGINT) AS n_tokens
            FROM d GROUP BY source, lang)
      SELECT source, lang, n_docs, n_tokens,
             CAST(floor(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () * 10000 + 0.5)
               AS DOUBLE) / 10000 AS doc_share,
             CAST(floor(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () * 10000 + 0.5)
               AS DOUBLE) / 10000 AS token_share
      FROM g
      ORDER BY source, lang"""),
    (s, d) => mixtureShares(mixtureCounts(Tables.documents(s, d))),
  )

  /** The mergeable half of t_mixture — per (source, lang) doc/token
    * counts; works identically on batch and streaming frames (counts
    * sum), which is what makes the mixture report streamable.
    */
  private[graft] def mixtureCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"), size(toks(col("text"))).cast("long").as("nt"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))

  /** The read-time half: corpus shares over the aggregated frame
    * (tens of rows). Floor-based rounding (see m25).
    */
  private[graft] def mixtureShares(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def shr(c: Column): Column = floor(c * 10000 + 0.5).cast("double") / 10000
    val all = Window.partitionBy()
    g.select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        shr(col("n_docs").cast("double") / sum("n_docs").over(all)).as("doc_share"),
        shr(col("n_tokens").cast("double") / sum("n_tokens").over(all)).as("token_share"))
      .orderBy("source", "lang")
  }

  /** DSIR feature-bucket count and selection size. */
  private[graft] val DsirBuckets = 256
  private[graft] val DsirTopK = 25

  /** t_dsir: Data Selection via Importance Resampling (Xie et al.
    * 2023, arXiv:2302.03169) — score every raw document by how much
    * more likely its hashed-n-gram features are under a TARGET
    * distribution than under the raw-corpus distribution, and keep the
    * top-weighted docs. The standard "make the crawl look like the
    * high-quality domain" selection pass of an LLM data pipeline.
    *
    * Shapes, exactly as the paper distributes:
    *  - features are hashed n-grams (unigrams + bigrams → B=256
    *    buckets via the portable PolyHash), built map-side per doc;
    *  - both bag-of-buckets models are ONE groupBy over B buckets
    *    (target = the 10% doc_id-hash sample, the same deterministic
    *    bucketing t_split uses; raw = the whole corpus), add-1
    *    smoothed; B rows total — bytes, not data;
    *  - per-bucket log-likelihood ratio ln(p̂_target/p̂_raw) computed
    *    from exact integer counts (one double division + ln, rounded
    *    to 6 — the t_tfidf log-portability convention), broadcast back;
    *  - per-doc importance weight Σ c_b·lr_b as an exact DECIMAL sum
    *    (doubles would be partition-order-dependent);
    *  - selection is the deterministic analogue of the paper's
    *    Gumbel-top-k: global top-K by (weight desc, doc_id) — a
    *    TakeOrdered, no full sort.
    */
  val dsir = GraftQuery(
    "t_dsir",
    Some(s"""
      WITH d AS (SELECT doc_id, $ToksSql AS t FROM documents),
      g AS (SELECT doc_id,
              unnest(list_concat(t, list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i+1]))) AS gram
            FROM d),
      b AS (SELECT doc_id, ${polySqlPublic("gram")} % $DsirBuckets AS bucket FROM g),
      tgt AS (SELECT doc_id FROM documents
              WHERE ${polySqlPublic("CAST(doc_id AS VARCHAR)")} % 100 < 10),
      cnt AS (SELECT bucket, COUNT(*) AS cr,
                CAST(SUM(CASE WHEN tgt.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ct
              FROM b LEFT JOIN tgt USING (doc_id) GROUP BY bucket),
      tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS rt, CAST(SUM(ct) AS BIGINT) AS tt FROM cnt),
      lr AS (SELECT bucket,
               ROUND(ln(CAST((ct + 1) * (rt + $DsirBuckets) AS DOUBLE)
                 / ((cr + 1) * (tt + $DsirBuckets))), 6) AS lr
             FROM cnt CROSS JOIN tot),
      db AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
      wgt AS (SELECT doc_id,
                ROUND(CAST(SUM(c * CAST(lr AS DECIMAL(12,6))) AS DOUBLE), 4) AS dsir_weight
              FROM db JOIN lr USING (bucket) GROUP BY doc_id),
      r AS (SELECT doc_id, dsir_weight,
              ROW_NUMBER() OVER (ORDER BY dsir_weight DESC, doc_id) AS rnk
            FROM wgt)
      SELECT rnk, doc_id, dsir_weight,
             ${polySqlPublic("CAST(doc_id AS VARCHAR)")} % 100 < 10 AS is_target
      FROM r WHERE rnk <= $DsirTopK
      ORDER BY rnk"""),
    (s, d) => dsirSelect(dsirWeights(Tables.documents(s, d))),
  )

  /** Per-doc hashed-n-gram feature buckets (unigrams + bigrams →
    * B buckets, map-side).
    */
  private def dsirFeatureBuckets(docs: DataFrame): DataFrame = {
    val bigrams = when(size(col("t")) >= 2,
      transform(sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
      .otherwise(array().cast("array<string>"))
    graft.Par.spread(docs)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), explode(concat(col("t"), bigrams)).as("gram"))
      .select(col("doc_id"), (polyHash(col("gram")) % DsirBuckets).as("bucket"))
  }

  /** The trained DSIR model: per-bucket smoothed log-likelihood ratio
    * ln(p̂_target/p̂_raw) — B rows, the broadcastable artifact a
    * serving pipeline trains offline and publishes.
    */
  private[graft] def dsirModel(docs: DataFrame,
      isTarget: Column = polyHash(col("doc_id").cast("string")) % 100 < 10): DataFrame = {
    val B = DsirBuckets
    // isTarget is a pure function of doc_id ⇒ evaluated map-side on
    // the feature rows, never joined
    val cnt = dsirFeatureBuckets(docs).withColumn("is_t", isTarget)
      .groupBy("bucket").agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    val tot = cnt.agg(sum("cr").as("rt"), sum("ct").as("tt"))
    cnt.crossJoin(broadcast(tot)).select(col("bucket"),
      round(log(((col("ct") + 1) * (col("rt") + B)).cast("double") /
        ((col("cr") + 1) * (col("tt") + B))), 6).as("lr"))
  }

  /** Score any (doc_id, text) frame against a trained model — the
    * map-side serving half (per-doc bucket counts ⋈ broadcast lr,
    * exact decimal sum).
    */
  private[graft] def dsirScore(docs: DataFrame, lr: DataFrame): DataFrame =
    dsirFeatureBuckets(docs)
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(round(sum(col("c") * col("lr").cast("decimal(12,6)")).cast("double"), 4)
        .as("dsir_weight"))

  /** Per-doc DSIR importance weight over any (doc_id, text) frame,
    * with the target sample drawn by `isTarget` (default: the t_split
    * 10% doc_id-hash bucket).
    *
    * Train-and-score-on-the-same-corpus fusion: the naive composition
    * dsirScore(docs, dsirModel(docs)) tokenizes and explodes the
    * corpus TWICE — once for the model's bucket counts, once for the
    * scoring pass (guide §1.2: don't compute things you already have).
    * Both sides are functions of the per-(doc, bucket) instance counts
    * `db`: the model's cr/ct are Σ c (and Σ c over target docs — the
    * target predicate is a pure function of doc_id, so it evaluates on
    * the aggregated rows identically), and the scoring join consumes
    * db directly. Compute db once, checkpoint it (two narrow longs +
    * a count per row), and derive both. Output is bit-identical: the
    * same integer counts feed the same smoothed-ratio formula.
    * st_dsir keeps the split dsirModel/dsirScore pair — its scoring
    * corpus is the STREAM, not the training corpus, so there is
    * nothing to fuse there.
    */
  private[graft] def dsirWeights(docs: DataFrame,
      isTarget: Column = polyHash(col("doc_id").cast("string")) % 100 < 10): DataFrame = {
    val B = DsirBuckets
    val db = graft.Caching.releaseAfter(
      dsirFeatureBuckets(docs).groupBy("doc_id", "bucket").agg(count(lit(1)).as("c")))
    val cnt = db.withColumn("is_t", isTarget)
      .groupBy("bucket").agg(sum("c").as("cr"),
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"))
    val tot = cnt.agg(sum("cr").as("rt"), sum("ct").as("tt"))
    val lr = cnt.crossJoin(broadcast(tot)).select(col("bucket"),
      round(log(((col("ct") + 1) * (col("rt") + B)).cast("double") /
        ((col("cr") + 1) * (col("tt") + B))), 6).as("lr"))
    db.join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id")
      .agg(round(sum(col("c") * col("lr").cast("decimal(12,6)")).cast("double"), 4)
        .as("dsir_weight"))
  }

  /** Deterministic top-K selection over a (doc_id, dsir_weight) frame
    * (TakeOrdered + rank over the K survivors).
    */
  private[graft] def dsirSelect(wgt: DataFrame): DataFrame = {
    val w = Window.orderBy(col("dsir_weight").desc, col("doc_id"))
    wgt.orderBy(col("dsir_weight").desc, col("doc_id")).limit(DsirTopK)
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("doc_id"), col("dsir_weight"),
        (polyHash(col("doc_id").cast("string")) % 100 < 10).as("is_target"))
      .orderBy("rnk")
  }

  // ---- t_quality_probe --------------------------------------------------

  /** Probe GD hyperparameters: fixed so the oracle replay is a bounded
    * generated-CTE chain (the Lloyd-unroll convention).
    */
  private[graft] val ProbeIters = 10
  private[graft] val ProbeLr = 0.5
  private val ProbeDim = 6

  /** Per-doc probe features f1..f6 + label y over any (doc_id, text)
    * frame. Every feature is an exact integer-derived double (counts
    * and IEEE divisions, identical in Spark and DuckDB) rounded to 6
    * decimals, so downstream DECIMAL products/sums are bit-portable.
    */
  /** The tokenize-once half of the featurizer: raw token count `nt`
    * plus every normalizer-INDEPENDENT feature (f2–f6, y). f1 is the
    * only feature that needs the corpus max-token scalar, so emitting
    * `nt` instead lets training checkpoint THIS frame, derive the
    * normalizer from it (max(nt) — a scan of the checkpoint, not of
    * the corpus), and attach f1 lazily ([[withF1]]): ONE corpus
    * tokenize per training where the fused form needed a separate
    * max-tokens pass first (guide §1.2 — the r18 cut; the r17 shape
    * had already cut four passes to two).
    */
  private[graft] def probeFeaturesRaw(docs: DataFrame,
      isTarget: Column = polyHash(col("doc_id").cast("string")) % 100 < 10): DataFrame = {
    val t = col("t")
    val stopArr = array(stopwords.map(lit): _*)
    graft.Par.spread(docs)
      .select(col("doc_id"), col("text"), toks(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(t).as("nt"),
        round(size(filter(t, x => array_contains(stopArr, x))).cast("double") / size(t), 6).as("f2"),
        round(size(array_distinct(t)).cast("double") / size(t), 6).as("f3"),
        round(aggregate(transform(t, x => length(x)), lit(0), (a, x) => a + x)
          .cast("double") / size(t) / 10, 6).as("f4"),
        round(size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 ]"), lit(0)))
          .cast("double") / length(col("text")), 6).as("f5"),
        lit(1.0).as("f6"),
        when(isTarget, 1.0).otherwise(0.0).as("y"))
  }

  /** Attach f1 to a raw feature frame given the trained normalizer —
    * the same arithmetic the fused featurizer ran (double(nt) ÷ long
    * maxTokens, round 6), so scores are bit-identical.
    */
  private[graft] def withF1(raw: DataFrame, maxTokens: Long): DataFrame =
    raw.select(col("doc_id"),
      round(col("nt").cast("double") / lit(maxTokens), 6).as("f1"),
      col("f2"), col("f3"), col("f4"), col("f5"), col("f6"), col("y"))

  private[graft] def probeFeatures(docs: DataFrame,
      isTarget: Column = polyHash(col("doc_id").cast("string")) % 100 < 10,
      maxTokens: Option[Long] = None): DataFrame = {
    val raw = probeFeaturesRaw(docs, isTarget)
    // f1 normalizes by the TRAINING corpus's max token count — a
    // serving featurizer must receive it as a model artifact
    // (maxTokens), not re-derive it from whatever batch it scores
    maxTokens match {
      case Some(m) => withF1(raw, m)
      case None =>
        val mx = broadcast(raw.agg(max(col("nt")).as("maxn")))
        raw.crossJoin(mx).select(
          col("doc_id"),
          round(col("nt").cast("double") / col("maxn"), 6).as("f1"),
          col("f2"), col("f3"), col("f4"), col("f5"), col("f6"), col("y"))
    }
  }

  /** Train the linear probe: ONE distributed decimal-exact pass builds
    * the 6×6 normal-equation moments (XᵀX, Xᵀy — 43 cells, bytes),
    * then `ProbeIters` fixed gradient steps on the driver. Every
    * arithmetic op is in the exact order the oracle's generated
    * iteration CTEs use (left-assoc dot products, g = acc/n − c/n,
    * β −= lr·g), so driver β and SQL β are bit-identical doubles.
    */
  private[graft] def trainProbe(feat: DataFrame): Array[Double] = {
    val dims = 1 to ProbeDim
    def dec(c: String) = col(c).cast("decimal(12,6)")
    val aggs =
      dims.flatMap(i => dims.map(j =>
        sum(dec(s"f$i") * dec(s"f$j")).cast("double").as(s"a$i$j"))) ++
        dims.map(i => sum(dec(s"f$i") * dec("y")).cast("double").as(s"c$i")) :+
        count(lit(1)).cast("double").as("n")
    val row = feat.agg(aggs.head, aggs.tail: _*).head()
    val a = Array.tabulate(ProbeDim, ProbeDim)((i, j) => row.getAs[Double](s"a${i + 1}${j + 1}"))
    val c = Array.tabulate(ProbeDim)(i => row.getAs[Double](s"c${i + 1}"))
    val n = row.getAs[Double]("n")
    val b = Array.fill(ProbeDim)(0.0)
    for (_ <- 1 to ProbeIters) {
      val nb = Array.tabulate(ProbeDim) { i =>
        var acc = a(i)(0) * b(0)
        for (j <- 1 until ProbeDim) acc = acc + a(i)(j) * b(j)
        b(i) - ProbeLr * (acc / n - c(i) / n)
      }
      Array.copy(nb, 0, b, 0, ProbeDim)
    }
    b
  }

  /** Score a feature frame against trained coefficients (map-side,
    * left-assoc dot product, round 4).
    */
  private[graft] def scoreProbe(feat: DataFrame, beta: Array[Double]): DataFrame =
    feat.select(col("doc_id"),
      round((1 to ProbeDim).map(i => col(s"f$i") * lit(beta(i - 1))).reduce(_ + _), 4)
        .as("score"),
      (col("y") === 1.0).as("is_target"))

  /** The oracle's replay of trainProbe: it0 casts the decimal moments
    * to doubles and seeds β = 0; each generated iteration CTE applies
    * one gradient step with the same left-assoc expression order.
    */
  private def probeIterCtes: String = {
    val dims = 1 to ProbeDim
    val carry = (dims.flatMap(i => dims.map(j => s"a$i$j")) ++ dims.map(i => s"c$i") :+ "n")
      .mkString(", ")
    val it0 =
      s"""it0 AS (SELECT ${dims.flatMap(i => dims.map(j => s"CAST(a$i$j AS DOUBLE) AS a$i$j")).mkString(", ")},
         |  ${dims.map(i => s"CAST(c$i AS DOUBLE) AS c$i").mkString(", ")},
         |  CAST(n AS DOUBLE) AS n,
         |  ${dims.map(i => s"CAST(0 AS DOUBLE) AS b$i").mkString(", ")}
         |FROM xtx)""".stripMargin
    val its = (1 to ProbeIters).map { k =>
      val steps = dims.map { i =>
        val acc = dims.map(j => s"a$i$j * b$j").reduce((l, r) => s"($l + $r)")
        s"b$i - $ProbeLr * ($acc / n - c$i / n) AS b$i"
      }.mkString(",\n  ")
      s"it$k AS (SELECT $carry,\n  $steps\nFROM it${k - 1})"
    }
    (it0 +: its).mkString(",\n")
  }

  /** Trained probe artifacts per data dir — (β, f1-normalizer scalar,
    * checkpointed RAW feature frame): t_quality_probe and
    * st_quality_probe share one training pass per harness session
    * (train once, serve many — the model is 7 numbers; the raw frame
    * is the served batch artifact, n_docs × (1 int + 6 doubles)).
    *
    * Pass accounting (the r5 sf10 probe measured this operator
    * superlinear): the r5 shape tokenized the corpus FOUR times —
    * training featurize + its embedded max-token broadcast agg, a
    * separate maxTokens pass, and a serving re-featurize. r17 cut that
    * to two (one normalizer reduce + one checkpointed featurize); r18
    * cuts it to ONE: the checkpointed frame is the RAW featurization
    * (probeFeaturesRaw — nt instead of f1), the normalizer is max(nt)
    * over the CHECKPOINT, and f1 attaches lazily (withF1). The memo
    * stores the raw checkpoint so eviction's checkpointedRdd lookup
    * still sees a LogicalRDD root.
    */
  private val probeMemo = scala.collection.mutable.Map[
    String, (org.apache.spark.sql.SparkSession, Array[Double], Long, Option[DataFrame])]()
  graft.Caching.onReleaseAll(() => probeMemo.synchronized(probeMemo.clear()))

  /** Drop every OTHER dir's checkpointed feature frame (corpus-row ×
    * 8-double blocks): a multi-dir harness session keeps at most ONE
    * corpus-sized artifact pinned; the 7-number (β, maxTokens) models
    * stay memoized for every dir.
    */
  private def evictOtherFeatures(keep: String): Unit =
    probeMemo.mapValuesInPlace { case (k, (sess, beta, mt, feat)) =>
      if (k == keep) (sess, beta, mt, feat)
      else {
        feat.foreach(f => org.apache.spark.sql.graftshim.Shim.checkpointedRdd(f)
          .foreach(r => try r.unpersist(blocking = false) catch { case NonFatal(_) => () }))
        (sess, beta, mt, None)
      }
    }

  private[graft] def probeArtifacts(s: org.apache.spark.sql.SparkSession,
                                    d: String): (Array[Double], Long, DataFrame) =
    probeMemo.synchronized {
      def featurizeRaw() = graft.Caching.retain(graft.Caching.releaseAfter(
        probeFeaturesRaw(Tables.documents(s, d))))
      probeMemo.get(d) match {
        case Some((sess, beta, mt, Some(raw))) if (sess eq s) && !s.sparkContext.isStopped =>
          (beta, mt, withF1(raw, mt))
        case Some((sess, beta, mt, None)) if (sess eq s) && !s.sparkContext.isStopped =>
          // model survives eviction; only the served frame re-derives
          val raw = featurizeRaw()
          probeMemo(d) = (s, beta, mt, Some(raw))
          evictOtherFeatures(d)
          (beta, mt, withF1(raw, mt))
        case _ =>
          // ONE corpus tokenize: checkpoint the raw featurization,
          // then the f1 normalizer is a scan of the checkpoint
          val raw = featurizeRaw()
          val maxTokens = raw.agg(max(col("nt"))).head().getInt(0).toLong
          val feat = withF1(raw, maxTokens)
          val beta = trainProbe(feat)
          probeMemo(d) = (s, beta, maxTokens, Some(raw))
          evictOtherFeatures(d)
          (beta, maxTokens, feat)
      }
    }

  /** (β, maxTokens) only — serves streaming twins without forcing a
    * (re)build of the batch feature frame when it has been evicted.
    */
  private[graft] def probeModel(s: org.apache.spark.sql.SparkSession,
                                d: String): (Array[Double], Long) =
    probeMemo.synchronized {
      probeMemo.get(d) match {
        case Some((sess, beta, mt, _)) if (sess eq s) && !s.sparkContext.isStopped =>
          (beta, mt)
        case _ =>
          val (beta, mt, _) = probeArtifacts(s, d)
          (beta, mt)
      }
    }

  /** t_quality_probe: a TRAINED model-based quality scorer — the
    * learned counterpart of the heuristic t_quality_score / t_corpus_
    * filter gates (the fastText-classifier slot of an LLM pipeline,
    * linearized so training is exactly distributable): a linear probe
    * fit by fixed-step gradient descent on the least-squares objective
    * predicting target-domain membership (the t_split 10% sample, as
    * t_dsir) from six content features. The corpus-sized work is ONE
    * decimal-exact moment pass; training state is 43 numbers; scoring
    * is map-side. GD is exp-free arithmetic only, so — unlike a
    * logistic fit — the oracle replays training bit-exactly as
    * generated CTEs and the whole operator stays hash-checked.
    */
  val qualityProbe = GraftQuery(
    "t_quality_probe",
    Some({
      val dims = 1 to ProbeDim
      val xtxCells =
        dims.flatMap(i => dims.map(j =>
          s"SUM(CAST(f$i AS DECIMAL(12,6)) * CAST(f$j AS DECIMAL(12,6))) AS a$i$j")) ++
          dims.map(i => s"SUM(CAST(f$i AS DECIMAL(12,6)) * CAST(y AS DECIMAL(12,6))) AS c$i")
      val scoreExpr = dims.map(i => s"f$i * b$i").reduce((l, r) => s"$l + $r")
      s"""
      WITH d AS (SELECT doc_id, text, $ToksSql AS t FROM documents),
      mx AS (SELECT MAX(len(t)) AS maxn FROM d),
      f0 AS (SELECT doc_id,
               ROUND(CAST(len(t) AS DOUBLE) / maxn, 6) AS f1,
               ROUND(CAST(len(list_filter(t, x -> x IN (${stopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len(t), 6) AS f2,
               ROUND(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS f3,
               ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) / 10, 6) AS f4,
               ROUND(CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / length(text), 6) AS f5,
               1.0 AS f6,
               CASE WHEN ${polySqlPublic("CAST(doc_id AS VARCHAR)")} % 100 < 10
                 THEN 1.0 ELSE 0.0 END AS y
             FROM d CROSS JOIN mx),
      xtx AS (SELECT ${xtxCells.mkString(",\n  ")}, COUNT(*) AS n FROM f0),
      $probeIterCtes,
      sc AS (SELECT f0.doc_id, ROUND($scoreExpr, 4) AS score, f0.y = 1.0 AS is_target
             FROM f0 CROSS JOIN it$ProbeIters),
      r AS (SELECT doc_id, score, is_target,
              ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
            FROM sc)
      SELECT rnk, doc_id, score, is_target
      FROM r WHERE rnk <= $DsirTopK
      ORDER BY rnk"""
    }),
    (s, d) => {
      val (beta, _, feat) = probeArtifacts(s, d)
      val w = Window.orderBy(col("score").desc, col("doc_id"))
      scoreProbe(feat, beta)
        .orderBy(col("score").desc, col("doc_id")).limit(DsirTopK)
        .withColumn("rnk", row_number().over(w))
        .select(col("rnk"), col("doc_id"), col("score"), col("is_target"))
        .orderBy("rnk")
    },
  )

  // ---- t_ngram_lm -------------------------------------------------------

  /** The t_split / t_dsir 10% doc_id-hash target slice — the "high
    * quality domain" every trained selection operator shares.
    */
  private[graft] def lmIsTarget: Column =
    polyHash(col("doc_id").cast("string")) % 100 < 10

  /** Adjacent-token bigram pairs per doc (map-side; docs with < 2
    * tokens contribute nothing).
    */
  private[graft] def lmBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))

  /** The trained bigram LM: (pair counts c2, context counts c1, vocab
    * frame v) over the target slice. c1 = Σ_w2 c2 exactly, so the
    * add-1 conditionals sum to 1 over vocab+unk; V counts distinct
    * target unigrams + 1 unk slot. All three are aggregate artifacts
    * of the 10% slice — model-sized, not corpus-sized.
    */
  private[graft] def lmModel(docs: DataFrame,
      isTarget: Column = lmIsTarget): (DataFrame, DataFrame, DataFrame) = {
    val tgt = docs.filter(isTarget)
    val pair = lmBigrams(tgt).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val ctx = pair.groupBy("w1").agg(sum("c2").as("c1"))
    val vocab = tgt.select(explode(toks(col("text"))).as("tok"))
      .agg((countDistinct("tok") + 1).as("v"))
    (pair, ctx, vocab)
  }

  /** Score any (doc_id, text) frame against a trained model: per-doc
    * mean negative log-likelihood under the smoothed bigram LM
    * (map-side bigrams ⋈ model, decimal-exact sum). The serving half.
    */
  private[graft] def lmScore(docs: DataFrame, pair: DataFrame, ctx: DataFrame,
      vocab: DataFrame): DataFrame =
    lmBigrams(docs)
      .join(pair, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v"))), 6).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round((-sum(col("lp").cast("decimal(12,6)"))).cast("double") /
          count(lit(1)), 4).as("avg_nll"))

  /** Head/middle/tail tertile cut over a scored (doc_id, n_bigrams,
    * avg_nll) frame — one row per doc, engine-native distributed sort.
    */
  private[graft] def lmTertiles(scored: DataFrame): DataFrame = {
    val w = Window.orderBy(col("avg_nll"), col("doc_id"))
    scored
      .withColumn("tert", ntile(3).over(w))
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
        when(col("tert") === 1, "head").when(col("tert") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** t_ngram_lm: LM-perplexity quality filtering (the CCNet shape,
    * Wenzek et al. 2020, arXiv:1911.00359): train a smoothed n-gram
    * language model on the high-quality target slice, score every
    * document by its per-token negative log-likelihood, and cut the
    * corpus into head/middle/tail tertiles — the standard
    * "keep the head, drop the tail" crawl-filtering pass of an LLM
    * data pipeline. Deterministic analogue of CCNet's KenLM 5-gram:
    * an add-1-smoothed bigram model (exact integer counts, so the
    * oracle replays training as plain aggregates), unseen contexts
    * fall back to the uniform 1/V floor.
    *
    * Scale shape: training is two groupBys over the 10% slice's
    * bigrams (model-sized artifacts); scoring is corpus bigrams
    * left-joined to the pair/context tables — shuffle joins on token
    * keys (the model is vocabulary-sized, too big to assume
    * broadcastable at 100 TB; stop-word context skew is AQE skew-join
    * territory) — then one per-doc aggregate. The tertile cut windows
    * over ONE ROW PER DOC (not corpus tokens); at petabyte doc counts
    * the escape hatch is an approx-quantile cutpoint broadcast, but
    * the exact engine-native sort is the hash-checkable form.
    * Rounding: ln → 6 decimals (the t_tfidf log-portability
    * convention), decimal-exact sums, final mean → 4.
    */
  val ngramLm = GraftQuery(
    "t_ngram_lm",
    Some(s"""
      WITH d AS (SELECT doc_id, $ToksSql AS t FROM documents),
      dd AS (SELECT doc_id, t FROM d WHERE len(t) >= 2),
      bg AS (SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                 __bi -> {'w1': t[__bi], 'w2': t[__bi + 1]})) AS p
             FROM dd),
      b2 AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg),
      tgt AS (SELECT doc_id FROM documents
              WHERE ${polySqlPublic("CAST(doc_id AS VARCHAR)")} % 100 < 10),
      tb AS (SELECT w1, w2, COUNT(*) AS c2
             FROM b2 JOIN tgt USING (doc_id) GROUP BY 1, 2),
      cx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM tb GROUP BY 1),
      vv AS (SELECT COUNT(DISTINCT tok) + 1 AS v
             FROM (SELECT unnest(t) AS tok FROM d JOIN tgt USING (doc_id))),
      sc AS (SELECT b.doc_id,
               ROUND(ln(CAST(COALESCE(tb.c2, 0) + 1 AS DOUBLE)
                 / (COALESCE(cx.c1, 0) + vv.v)), 6) AS lp
             FROM b2 b LEFT JOIN tb USING (w1, w2) LEFT JOIN cx USING (w1)
             CROSS JOIN vv),
      ag AS (SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(-CAST(SUM(CAST(lp AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*), 4)
                 AS avg_nll
             FROM sc GROUP BY doc_id),
      bk AS (SELECT doc_id, n_bigrams, avg_nll,
               NTILE(3) OVER (ORDER BY avg_nll, doc_id) AS tert
             FROM ag)
      SELECT doc_id, n_bigrams, avg_nll,
             CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
               AS bucket
      FROM bk ORDER BY doc_id"""),
    (s, d) => {
      val docs = Tables.documents(s, d)
      val (pair, ctx, vocab) = lmModel(docs)
      lmTertiles(lmScore(docs, pair, ctx, vocab))
    },
  )

  /** t_domain_rank: PageRank-style domain ranking over the
    * content-sharing graph — the corpus-curation step that scores
    * sources (domains) by how centrally they sit in the network of
    * shared content, the signal crawl pipelines use to pick
    * high-value domains. Nodes are `source` values; an edge's weight
    * is the number of distinct word-3-gram shingles the two sources
    * share (mirrors, syndication and boilerplate reuse show up as
    * heavy edges). Shingles present in more than `SrcDfCap` sources
    * are dropped first — the same skew guard as the inverted-index
    * dedup family: a ubiquitous shingle is non-discriminative AND
    * would fan out C(df, 2) pairs.
    *
    * The rank iteration runs in INTEGER fixed-point (1e-12 units of
    * total mass, damping 85/100, truncating division) — sums of longs
    * are exact and order-independent, so 10 iterations replay
    * hash-identically in the oracle with no float-summation-order
    * caveats. Overflow bound: r ≤ 1e12 and r·w must stay < 2^63, so
    * edge weights up to ~9e6 are safe; a corpus with heavier overlap
    * lowers Scale in lockstep.
    *
    * Scale: the shingle self-join is the inverted-index shape (df-cap
    * bounds per-key fan-out); per-iteration cost is one edge-keyed
    * join + one groupBy over the EDGE table — node frames stay
    * node-count-sized; lineage is truncated per round exactly like
    * connectedComponents.
    */
  private val RankScale = 1000000000000L
  private val SrcDfCap = 15
  private val RankIters = 10

  val domainRank = GraftQuery(
    "t_domain_rank",
    Some {
      val chain = (1 to RankIters).map { i =>
        s"""r$i AS (SELECT e.dst AS src,
           |        CAST(bb.base + (85 * SUM((p.r * e.w) // e.wu)) // 100 AS BIGINT) AS r
           |        FROM r${i - 1} p JOIN e ON e.src = p.src CROSS JOIN bb
           |        GROUP BY e.dst, bb.base)""".stripMargin
      }.mkString(",\n      ")
      s"""
      WITH d AS (SELECT doc_id, source, $ToksSql AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                 __ri -> t[__ri] || ' ' || t[__ri+1] || ' ' || t[__ri+2])) AS shingle
             FROM d),
      ss AS (SELECT DISTINCT d.source, sh.shingle FROM sh JOIN d USING (doc_id)),
      sf AS (SELECT shingle FROM ss GROUP BY shingle HAVING COUNT(*) <= $SrcDfCap),
      sc AS (SELECT ss.source, ss.shingle FROM ss JOIN sf USING (shingle)),
      ew AS (SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS w
             FROM sc a JOIN sc b ON a.shingle = b.shingle AND a.source < b.source
             GROUP BY 1, 2),
      e0 AS (SELECT sa AS src, sb AS dst, w FROM ew
             UNION ALL SELECT sb, sa, w FROM ew),
      wu AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wu FROM e0 GROUP BY src),
      e AS (SELECT e0.src, e0.dst, e0.w, wu.wu FROM e0 JOIN wu USING (src)),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wu),
      bb AS (SELECT CAST(($RankScale * 15 // 100) // n AS BIGINT) AS base FROM nn),
      r0 AS (SELECT src, CAST($RankScale // n AS BIGINT) AS r FROM wu CROSS JOIN nn),
      $chain
      SELECT w.src AS source, w.wu AS out_weight, r.r AS rank_fp
      FROM r$RankIters r JOIN wu w USING (src)
      ORDER BY rank_fp DESC, source"""
    },
    (s, d) => domainRankOf(Tables.documents(s, d)),
  )

  /** The content-sharing PageRank over any (doc_id, source, text)
    * frame — see t_domain_rank.
    */
  private[graft] def domainRankOf(docs: DataFrame): DataFrame = {
    val ss = graft.dedup.Dedup.shingleTable(docs.select("doc_id", "text"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select("source", "shingle").distinct()
    val sf = ss.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= SrcDfCap).select("shingle")
    // Ordered source pairs per shingle, expanded MAP-SIDE from the
    // sorted bucket array (bounded by SrcDfCap = 15 elements) instead
    // of the r16 self-join — which shuffled the whole (source, shingle)
    // table TWICE more (both join sides) to produce the same pairs
    // (guide §2.4). Sources per shingle are distinct by construction
    // (ss is distinct), so sorted i<j expansion ≡ a.source < b.source.
    val buckets = ss.join(sf, Seq("shingle"))
      .groupBy("shingle")
      .agg(sort_array(collect_list(col("source"))).as("srcs"))
    val pairCol = flatten(transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs"))),
        y => struct(x.as("sa"), y.as("sb")))))
    val ew = buckets
      .select(explode(pairCol).as("p"))
      .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
      .agg(count(lit(1)).as("w"))
    val e0 = ew.select(col("sa").as("src"), col("sb").as("dst"), col("w"))
      .unionByName(ew.select(col("sb").as("src"), col("sa").as("dst"), col("w")))
    val wu = e0.groupBy("src").agg(sum("w").as("wu"))
    // edge table read every iteration → materialize once (tracked:
    // freed at the harness' next releaseTransient, not on driver GC)
    val e = graft.Caching.releaseAfter(e0.join(wu, Seq("src")))
    // derive per-source totals from the checkpointed edges (wu is
    // functionally dependent on src there) — re-deriving from `wu`
    // would replay the shingle self-join pipeline for every consumer
    val wuM = e.select("src", "wu").distinct()
    // ONE pass over the checkpointed edges yields both driver scalars
    // (guide §1.2: don't compute things twice — the r16 shape ran a
    // distinct-count job AND a separate max job over the same frame):
    // the node count (bounded by the domain count, never data) and the
    // fixed-point overflow guard's max edge weight.
    val scalars = e.agg(countDistinct("src").as("n"), max("w").as("maxW")).head()
    val n = if (scalars.isNullAt(0)) 0L else scalars.getLong(0)
    if (n == 0) {
      // empty graph (all shingles above SrcDfCap / docs too short /
      // a single source): the oracle returns zero rows — mirror it
      // instead of dividing RankScale by zero on the driver
      return docs.sparkSession.emptyDataFrame
        .withColumn("source", lit("").cast("string"))
        .withColumn("out_weight", lit(0L))
        .withColumn("rank_fp", lit(0L))
        .select("source", "out_weight", "rank_fp")
    }
    // r ≤ RankScale (total rank mass), so r*w stays in Long iff
    // w ≤ Long.MaxValue / RankScale (~9.2e6 shared shingles per source
    // pair). Fail with the knob named rather than an opaque ANSI
    // overflow mid-iteration on a heavier-overlap corpus.
    val maxW = scalars.getLong(1)
    require(maxW <= Long.MaxValue / RankScale,
      s"t_domain_rank: max edge weight $maxW exceeds the fixed-point-safe " +
        s"bound ${Long.MaxValue / RankScale}; lower RankScale to widen headroom")
    val base = (RankScale * 15L / 100L) / n
    var ranks = graft.Caching.releaseAfter(e.select("src").distinct()
      .withColumn("r", lit(RankScale / n)))
    // Iteration join: `ranks` is NODE-sized (one row per domain) while
    // `e` is the EDGE table — broadcast the ranks side (guide §3.1 /
    // §2.4: a broadcast join replaces a shuffle of the large side).
    // The r16 shape sort-merge-joined them, shuffling the whole edge
    // table by src EVERY iteration (10 edge shuffles + sorts); these
    // edge shuffles are exactly the repeated spill volume that
    // exhausted local disk in the r16 sf10 sweep
    // (STAGE_MATERIALIZATION IOException — VERDICT r16 #1). Now each
    // iteration is: scan checkpointed e (no exchange), broadcast-hash
    // join, map-side partial agg on dst, node-sized exchange. The sums
    // are exact integer arithmetic — identical under any join
    // strategy, so the oracle hash is unchanged.
    for (_ <- 1 to RankIters) {
      ranks = graft.Caching.releaseAfter(e.join(broadcast(ranks), Seq("src"))
        .groupBy("dst").agg(sum(expr("(r * w) div wu")).as("s"))
        .select(col("dst").as("src"),
          (lit(base) + expr("(85 * s) div 100")).cast("long").as("r")))
    }
    ranks.select(col("src").as("source"), col("r").as("rank_fp"))
      .join(wuM.select(col("src").as("source"), col("wu").as("out_weight")), Seq("source"))
      .select("source", "out_weight", "rank_fp")
      .orderBy(col("rank_fp").desc, col("source"))
  }

  def all: Seq[GraftQuery] =
    Seq(tokenStats, qualityScore, langid, fingerprint, bigramFreq, repNgrams, tfidf,
      bpeTokens, bpeMerges, bpeEncode, split80, vocab, piiScrub, contamination,
      sentences, packing, corpusFilter, mixture, dsir, qualityProbe, ngramLm,
      domainRank)
}
