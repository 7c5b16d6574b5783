package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators over `documents`: language ID (stopword-profile
  * heuristic), quality scoring, token counting (whitespace + BPE-ish
  * regex), and content fingerprinting. All row-local codegen'd
  * projections — embarrassingly parallel, no shuffle (except the final
  * ORDER BY for the deterministic compare, which a production run drops).
  */
object TextAnalysis {

  def defs: Seq[QueryDef] =
    Seq(q34, q35, q36, q37, q49, q64, q70, q85, q86, q102, q113, q180, q191,
      q246, q260, q261, q262)

  private val stopList = TF.StopWords.map(w => s"'$w'").mkString(", ")

  /** Language-ID heuristic: stopword-hit ratio (the corpus vocabulary is
    * English-ish, so the honest heuristic output is en/unknown; the point
    * is the deterministic, oracle-checkable scoring pipeline).
    */
  val q34: QueryDef = QueryDef.checked(
    "q34_langid",
    s"""SELECT doc_id,
       | len(list_filter(string_split(text, ' '), t -> t IN ($stopList))) AS stop_hits,
       | len(string_split(text, ' ')) AS n_tokens,
       | CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN ($stopList))) * 1.0
       |           / len(string_split(text, ' ')) >= 0.05
       |      THEN 'en' ELSE 'unknown' END AS pred_lang
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = TF.tokens(col("text"))
    val hits = TF.stopwordHits(toks)
    Tables.documents(s, d)
      .select(col("doc_id"),
        hits.as("stop_hits"),
        size(toks).as("n_tokens"),
        when(hits.cast("double") / size(toks) >= 0.05, "en")
          .otherwise("unknown").as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: token/char stats and a bounded composite score.
    * All ratios are int/int double divisions on identical operands →
    * bit-deterministic in both engines.
    */
  val q35: QueryDef = QueryDef.checked(
    "q35_text_quality",
    """SELECT doc_id,
      | length(text) AS n_chars,
      | len(string_split(text, ' ')) AS n_tokens,
      | len(list_distinct(string_split(text, ' '))) AS n_uniq,
      | length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')) AS avg_tok_len,
      | len(list_distinct(string_split(text, ' '))) * 1.0
      |   / len(string_split(text, ' ')) AS uniq_ratio,
      | ROUND(0.5 * least(1.0, len(string_split(text, ' ')) / 100.0)
      |     + 0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
      |              / len(string_split(text, ' '))), 6) AS quality
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = TF.tokens(col("text"))
    val nTok = size(toks)
    val nUniq = size(array_distinct(toks))
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        nTok.as("n_tokens"),
        nUniq.as("n_uniq"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") / nTok)
          .as("avg_tok_len"),
        (nUniq.cast("double") / nTok).as("uniq_ratio"),
        round(lit(0.5) * least(lit(1.0), nTok / lit(100.0))
          + lit(0.5) * (nUniq.cast("double") / nTok), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens vs BPE-ish piece tokens (regex
    * alternation over word/digit/punct runs) vs distinct counts.
    */
  val q36: QueryDef = QueryDef.checked(
    "q36_token_count",
    s"""SELECT doc_id,
       | len(string_split(text, ' ')) AS ws_tokens,
       | len(regexp_extract_all(text, '${TF.PieceTokenPattern}')) AS piece_tokens,
       | len(list_distinct(string_split(text, ' '))) AS uniq_tokens
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(TF.tokens(col("text"))).as("ws_tokens"),
        TF.pieceTokenCount(col("text")).as("piece_tokens"),
        size(array_distinct(TF.tokens(col("text")))).as("uniq_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Content fingerprint (md5 of normalized text) + 256-way bucket — the
    * partition-friendly form used to shard exact dedup at scale.
    */
  val q37: QueryDef = QueryDef.checked(
    "q37_fingerprint",
    """SELECT doc_id,
      | md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fp,
      | substring(md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')), 1, 2) AS bucket
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val fp = TF.fingerprint(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), fp.as("fp"), substring(fp, 1, 2).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Repetition statistics (the Gopher/MassiveText repetition filters):
    * most-frequent-token share and duplicate-bigram fraction per
    * document, plus the composite `repetitive` flag. Boilerplate, SEO
    * spam, and templated pages score high on these long before any
    * cross-document dedup sees them — this is the in-document
    * complement to q27-q30. All counts are integers; the two ratios are
    * single int/int double divisions, and the flag compares those
    * identically-rounded doubles against the same constants in both
    * engines — bit-exact. One token explode feeding three keyed
    * aggregations (term counts, totals, bigram counts), all
    * partial-agg'd map-side; no cross-document shuffle at any size.
    */
  val q64: QueryDef = QueryDef.checked(
    "q64_repetition_stats",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS t,
      |         generate_subscripts(string_split(text,' '), 1) AS pos
      |  FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1,2),
      |top AS (SELECT doc_id, max(c) AS top_c FROM tf GROUP BY 1),
      |ntok AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
      |bi AS (
      |  SELECT doc_id, t || ' ' || lead(t) OVER w AS g
      |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(t) OVER w IS NOT NULL),
      |bc AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1,2),
      |rep AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup2,
      |    CAST(sum(c) AS BIGINT) AS n2, max(c) AS max2
      |  FROM bc GROUP BY 1)
      |SELECT t.doc_id, n.n_tok, t.top_c, r.dup2, r.n2, r.max2,
      |  t.top_c * 1.0 / n.n_tok AS top_share,
      |  r.dup2 * 1.0 / r.n2 AS dup2_frac,
      |  (t.top_c * 1.0 / n.n_tok > 0.2 OR r.dup2 * 1.0 / r.n2 > 0.5) AS repetitive
      |FROM top t JOIN ntok n USING (doc_id) JOIN rep r USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // persisted: tok feeds tf, ntok AND the bigram window — one
    // tokenize pass, not three (the bm25TopK/invertedIndex rule)
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "t")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
    val top = tf.groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
    val ntok = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val bc = tok
      .withColumn("nx", lead(col("t"), 1).over(wOrd))
      .filter(col("nx").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("t"), col("nx")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val rep = bc.groupBy(col("doc_id")).agg(
      sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup2"),
      sum(col("c")).as("n2"), max(col("c")).as("max2"))
    val topShare = col("top_c").cast("double") / col("n_tok")
    val dup2Frac = col("dup2").cast("double") / col("n2")
    top.join(ntok, "doc_id").join(rep, "doc_id")
      .select(col("doc_id"), col("n_tok"), col("top_c"),
        col("dup2"), col("n2"), col("max2"),
        topShare.as("top_share"), dup2Frac.as("dup2_frac"),
        (topShare > 0.2 || dup2Frac > 0.5).as("repetitive"))
      .orderBy(col("doc_id"))
  }

  /** Gopher/MassiveText-style rule-based quality filter: five document
    * rules — token-count bounds, mean-word-length band, distinct-token
    * ratio, stopword-ratio floor, top-token-share cap — each surfaced as
    * a flag plus a composite `keep` and a `reasons` CSV naming the
    * failed rules (thresholds tuned to split this corpus; in production
    * they're the knobs). Four rules are row-local codegen projections;
    * the top-share rule is the one exploded token aggregation, map-side
    * combined and joined back on doc_id — the same shape q64 uses, no
    * cross-document shuffle beyond that keyed agg at any scale. All
    * ratios are int/int double divisions against constants → bit-exact
    * in both engines; `reasons` concat_ws skips NULLs identically.
    */
  val q70: QueryDef = QueryDef.checked(
    "q70_gopher_rules",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
       |tf AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1,2),
       |ts AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c,
       |              CAST(sum(c) AS BIGINT) AS n_tok2 FROM tf GROUP BY 1),
       |base AS (
       |  SELECT doc_id,
       |    len(string_split(text,' ')) AS n_tok,
       |    length(replace(text,' ','')) * 1.0 / len(string_split(text,' ')) AS awl,
       |    len(list_distinct(string_split(text,' '))) * 1.0
       |      / len(string_split(text,' ')) AS uniq_ratio,
       |    len(list_filter(string_split(text,' '), t -> t IN ($stopList))) * 1.0
       |      / len(string_split(text,' ')) AS stop_ratio
       |  FROM documents)
       |SELECT b.doc_id, b.n_tok,
       |  ROUND(b.awl, 6) AS awl, ROUND(b.uniq_ratio, 6) AS uniq_ratio,
       |  ROUND(b.stop_ratio, 6) AS stop_ratio,
       |  ROUND(t.top_c * 1.0 / t.n_tok2, 6) AS top_share,
       |  b.n_tok BETWEEN 25 AND 100000 AS r_len,
       |  b.awl >= 3.5 AND b.awl <= 5.0 AS r_awl,
       |  b.uniq_ratio >= 0.3 AS r_uniq,
       |  b.stop_ratio >= 0.02 AS r_stop,
       |  t.top_c * 1.0 / t.n_tok2 <= 0.15 AS r_rep,
       |  (b.n_tok BETWEEN 25 AND 100000) AND (b.awl >= 3.5 AND b.awl <= 5.0)
       |    AND b.uniq_ratio >= 0.3 AND b.stop_ratio >= 0.02
       |    AND t.top_c * 1.0 / t.n_tok2 <= 0.15 AS keep,
       |  concat_ws(',',
       |    CASE WHEN NOT b.n_tok BETWEEN 25 AND 100000 THEN 'len' END,
       |    CASE WHEN NOT (b.awl >= 3.5 AND b.awl <= 5.0) THEN 'word_len' END,
       |    CASE WHEN NOT b.uniq_ratio >= 0.3 THEN 'uniq' END,
       |    CASE WHEN NOT b.stop_ratio >= 0.02 THEN 'stopwords' END,
       |    CASE WHEN NOT t.top_c * 1.0 / t.n_tok2 <= 0.15 THEN 'repetition' END
       |  ) AS reasons
       |FROM base b JOIN ts t USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    gopherRules(Tables.documents(s, d)).orderBy(col("doc_id"))
  }

  /** The q70 rule gate as a reusable frame over any (doc_id, text)
    * input — also the quality stage of [[Curation.curate]].
    */
  def gopherRules(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val toks = TF.tokens(col("text"))
    val nTok = size(toks)
    val awl = length(regexp_replace(col("text"), " ", "")).cast("double") / nTok
    val uniqR = size(array_distinct(toks)).cast("double") / nTok
    val stopR = TF.stopwordHits(toks).cast("double") / nTok
    val base = docs.select(col("doc_id"),
      nTok.as("n_tok"), awl.as("awl_raw"), uniqR.as("uniq_raw"),
      stopR.as("stop_raw"))
    val ts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_tok2"))
    val topShare = col("top_c").cast("double") / col("n_tok2")
    val rLen = col("n_tok").between(25, 100000)
    val rAwl = col("awl_raw") >= 3.5 && col("awl_raw") <= 5.0
    val rUniq = col("uniq_raw") >= 0.3
    val rStop = col("stop_raw") >= 0.02
    val rRep = topShare <= 0.15
    base.join(ts, "doc_id")
      .select(col("doc_id"), col("n_tok"),
        round(col("awl_raw"), 6).as("awl"),
        round(col("uniq_raw"), 6).as("uniq_ratio"),
        round(col("stop_raw"), 6).as("stop_ratio"),
        round(topShare, 6).as("top_share"),
        rLen.as("r_len"), rAwl.as("r_awl"), rUniq.as("r_uniq"),
        rStop.as("r_stop"), rRep.as("r_rep"),
        (rLen && rAwl && rUniq && rStop && rRep).as("keep"),
        concat_ws(",",
          when(!rLen, "len"), when(!rAwl, "word_len"),
          when(!rUniq, "uniq"), when(!rStop, "stopwords"),
          when(!rRep, "repetition")).as("reasons"))
  }

  /** The PolyHash fold (h·257 + byte mod 2⁶¹−1 over UTF-8 bytes) as
    * DuckDB SQL: bytes come from the hex encoding (`hx` is a
    * to_hex(encode(...)) column), intermediates ride in HUGEINT (the
    * h·257 product needs ~70 bits — exactly why the Spark side is a
    * custom codegen Expression with Mersenne folding instead of plain
    * LONG arithmetic).
    */
  private def polyFoldSql(hx: String): String =
    s"""CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |    list_transform(range(0, length($hx) // 2),
       |      i -> CAST(CAST(('0x' || substr($hx, 2*i+1, 2)) AS INT)
       |        AS HUGEINT))),
       |  (h, c) -> (h * 257 + c) % CAST(2305843009213693951 AS HUGEINT))
       |  AS BIGINT)""".stripMargin

  /** Rolling-hash fingerprints via the custom PolyHash codegen
    * expression: whole-document 61-bit fingerprint plus
    * first-token-chunk hash (the building block for content-defined
    * chunk dedup). ORACLE-CHECKED since round 7: the polynomial is a
    * published construction (h·B + b mod Mersenne-61), and DuckDB
    * replays it byte-for-byte with a HUGEINT list_reduce over the
    * UTF-8 hex — so the custom Expression's Mersenne-folding fast path
    * (PolyHashExpr's mulShift32 decomposition) is certified against an
    * independent 128-bit implementation on the whole corpus.
    * PolyHashSpec keeps the BigInt reference values as unit goldens.
    */
  val q49: QueryDef = QueryDef.checked(
    "q49_rolling_fingerprint",
    s"""WITH hx AS (
      |  SELECT doc_id,
      |    to_hex(encode(regexp_replace(trim(lower(text)), ' +', ' ', 'g')))
      |      AS h1,
      |    to_hex(encode(substr(text, 1, 32))) AS h2
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    ${polyFoldSql("h1")} AS fp64,
      |    ${polyFoldSql("h2")} AS head_fp
      |  FROM hx)
      |SELECT doc_id, fp64, head_fp, fp64 % 256 AS bucket
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.PolyHash.polyhash
    Tables.documents(s, d)
      .select(col("doc_id"),
        polyhash(TF.normalize(col("text"))).as("fp64"),
        polyhash(substring(col("text"), 1, 32)).as("head_fp"),
        pmod(polyhash(TF.normalize(col("text"))), lit(256)).as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** BM25 keyword retrieval (Robertson/Spärck Jones, the Okapi weighting
    * with the standard k1=1.2, b=0.75): top-`topK` documents for a bag
    * of query terms. The classic sparse-retrieval scorer — the lexical
    * complement to the embedding ANN family, and the negative-mining
    * workhorse for retrieval training data.
    *
    * Oracle determinism: the one transcendental (the idf log, in its
    * always-positive BM25+ form ln(1 + (N-df+0.5)/(df+0.5))) is snapped
    * to an integer micro-units grid immediately — one value per query
    * term, so a sub-ulp engine difference cannot survive the rounding;
    * every other factor is exact integers or a fixed tree of correctly-
    * rounded IEEE ops, and per-term scores are summed as BIGINT.
    *
    * Scale shape: the token pass feeds three keyed counts (map-side
    * combined); tf is pre-filtered to the query terms BEFORE any
    * shuffle, so the scored frame is (matching docs × terms), not the
    * corpus; idf and the corpus stats ride in as one-row/terms-row
    * broadcasts; the final top-k is orderBy+limit = TakeOrdered (per-
    * partition heaps, no global sort shuffle), ranked only after the
    * limit collapses it to `topK` rows.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String],
      topK: Int = 20): DataFrame = {
    // persisted: the exploded token frame feeds FOUR consumers (dl,
    // stats, and via qtok both tf and dfq) — left lazy, the corpus
    // tokenize/explode would execute once per consumer (the
    // invertedIndex/perplexityScore rule; Verify/Bench clear the cache
    // between queries)
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = tok.agg(
      (count(lit(1)).cast("double") / count_distinct(col("doc_id"))).as("avgdl"),
      count_distinct(col("doc_id")).as("n_docs"))
    val qtok = tok.filter(col("t").isin(terms: _*))
    val tf = qtok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dfq = qtok.groupBy(col("t")).agg(count_distinct(col("doc_id")).as("df"))
    val idf = dfq.crossJoin(stats)
      .withColumn("idf_u", round(lit(1000000.0) *
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .cast("long"))
      .select(col("t"), col("idf_u"))
    val scores = tf.join(idf, "t").join(dl, "doc_id")
      .crossJoin(stats.select(col("avgdl")))
      .withColumn("term_score", round(col("idf_u") * ((col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
        .cast("long"))
    val top = scores.groupBy(col("doc_id"))
      .agg(sum(col("term_score")).as("score_u"))
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(topK)
    top.withColumn("rnk",
        row_number().over(Window.orderBy(col("score_u").desc, col("doc_id"))))
      .select(col("doc_id"), col("score_u"), col("rnk"))
  }

  /** q85: BM25 top-20 for a three-term query over the corpus. */
  val q85: QueryDef = QueryDef.checked(
    "q85_bm25_topk",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl,
      |                 count(DISTINCT doc_id) AS n_docs FROM tok),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
      |  WHERE t IN ('spark', 'stream', 'join') GROUP BY 1, 2),
      |df AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok
      |  WHERE t IN ('spark', 'stream', 'join') GROUP BY 1),
      |idf AS (SELECT t,
      |    CAST(ROUND(1000000.0 * LN(1.0 + (s.n_docs - df + 0.5) / (df + 0.5))) AS BIGINT) AS idf_u
      |  FROM df CROSS JOIN stats s),
      |scores AS (
      |  SELECT tf.doc_id,
      |    CAST(ROUND(idf.idf_u * ((tf.tf * 2.2) /
      |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)))) AS BIGINT) AS term_score
      |  FROM tf JOIN idf ON tf.t = idf.t JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN stats s),
      |agg AS (SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_u
      |  FROM scores GROUP BY doc_id),
      |ranked AS (SELECT doc_id, score_u,
      |    row_number() OVER (ORDER BY score_u DESC, doc_id) AS rnk FROM agg)
      |SELECT doc_id, score_u, rnk FROM ranked WHERE rnk <= 20
      |ORDER BY rnk""".stripMargin) { (s, d) =>
    bm25TopK(Tables.documents(s, d), Seq("spark", "stream", "join"))
      .orderBy(col("rnk"))
  }

  /** Perplexity-style quality scoring (the CCNet filter — Wenzek et al.
    * 2019, arXiv:1911.00359 — with an in-corpus bigram LM instead of an
    * external KenLM): every document's negative log-likelihood under a
    * Laplace-smoothed bigram model trained on the corpus itself.
    * High-NLL-per-bigram documents are the improbable outliers (garbled
    * text, spam, wrong-domain content) that perplexity filtering
    * removes before training.
    *
    * Oracle determinism: P(t|u) = (c(u,t)+1)/(c(u)+V) is a single IEEE
    * division of exact integer counts; its ln is snapped to an integer
    * micro-units grid per bigram occurrence (identical inputs → one
    * value per bigram TYPE, ≤ V² of them), and per-document NLL is a
    * BIGINT sum of those — order-independent, hash-exact.
    *
    * Scale shape: one token pass feeds the bigram frame (per-doc window,
    * doc-partitioned); counts are two keyed aggs with map-side combine;
    * scoring joins the bigram stream against the (≤V²-row) count tables
    * — vocabulary-sized, AQE broadcasts them; V rides in as a one-row
    * cross join. The bigram frame feeds both the count agg and the
    * scoring join, so it is persisted (Verify/Bench clear between
    * queries). Self-training is one corpus pass; to score against a
    * curated reference LM instead, build `cb`/`cu` from that frame.
    */
  def perplexityScore(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnRenamed("col", "t")
    val big = tok
      .withColumn("u", lag(col("t"), 1).over(w))
      .filter(col("u").isNotNull)
      .select(col("doc_id"), col("u"), col("t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = big.groupBy(col("u"), col("t")).agg(count(lit(1)).as("c_ut"))
    val cu = tok.groupBy(col("t")).agg(count(lit(1)).as("c_u"))
      .withColumnRenamed("t", "u")
    val v = tok.agg(count_distinct(col("t")).as("v"))
    big.join(cb, Seq("u", "t")).join(cu, Seq("u")).crossJoin(v)
      .withColumn("lp_u",
        round(lit(-1000000.0) *
          log((col("c_ut") + lit(1.0)) / (col("c_u") + col("v")))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_u")).as("nll_u"))
  }

  /** q86: self-trained bigram NLL per document. */
  val q86: QueryDef = QueryDef.checked(
    "q86_perplexity_score",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
      |big AS (SELECT doc_id, lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS u, t
      |  FROM tok QUALIFY u IS NOT NULL),
      |cb AS (SELECT u, t, count(*) AS c_ut FROM big GROUP BY 1, 2),
      |cu AS (SELECT t AS u, count(*) AS c_u FROM tok GROUP BY 1),
      |v AS (SELECT count(DISTINCT t) AS v FROM tok)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(CAST(ROUND(-1000000.0 *
      |    LN((cb.c_ut + 1.0) / (cu.c_u + v.v))) AS BIGINT)) AS BIGINT) AS nll_u
      |FROM big b JOIN cb ON b.u = cb.u AND b.t = cb.t
      |JOIN cu ON b.u = cu.u CROSS JOIN v
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, d) =>
    perplexityScore(Tables.documents(s, d)).orderBy(col("doc_id"))
  }

  /** Inverted-index build (the retrieval-infra counterpart of q85's
    * BM25 scorer): term → document frequency + sorted posting list,
    * from any (doc_id, term) occurrence frame. Built the scale-correct
    * two-pass way: the cheap df aggregate runs first (map-side combined
    * counts, no lists), the df band filter prunes the term set, and
    * only then are posting lists collected — restricted by a join to
    * surviving terms, so stopword-grade terms never materialize a list
    * at all. The join is UNHINTED: AQE broadcasts the surviving-terms
    * frame when it fits (the q28/q50 lesson). At 100 TB the remaining
    * lever is sharding hot postings by (term, doc_id bucket); the df
    * cap here bounds every list by construction.
    */
  def invertedIndex(postings0: DataFrame, minDf: Long, maxDf: Long): DataFrame = {
    // the occurrence frame feeds BOTH the df agg and the collect join —
    // persist so the tokenize/explode subtree runs once (the q75/q29
    // lesson; Verify/Bench clear the cache between queries). At corpus
    // sizes where the exploded frame can't cache, drop the persist and
    // pay the linear re-scan — never the double tokenize by accident.
    val postings = postings0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df = DOCUMENT frequency (countDistinct doc_id), not occurrence
    // count: a raw token-exploded frame carries repeats within a doc,
    // and counting rows would band-filter on the wrong quantity and
    // disagree with the collect_set posting list's own length
    val kept = postings.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df").between(minDf, maxDf))
    postings.join(kept, Seq("term"))
      .groupBy(col("term"), col("df"))
      .agg(concat_ws(",", sort_array(collect_set(col("doc_id")))).as("postings"))
  }

  /** PMI collocation extraction (the word2vec/SGNS statistics pass):
    * adjacent token pairs scored by pointwise mutual information
    * against the bigram-stream marginals — pmi(u,t) =
    * ln(N·c_ut / (c_u?·c_?t)). Counts are exact integers from two keyed
    * aggs; the probability ratio is ONE double multiply/divide tree
    * (correctly-rounded IEEE, engine-identical) and the ln is snapped
    * immediately to the micro grid (the q85/q86 recipe). The min-count
    * floor is the standard PMI noise guard — and it bounds the output
    * to real collocations. Marginal joins are UNHINTED: the vocabulary
    * frames broadcast only when they fit (q28/q50 lesson).
    */
  def pmiCollocations(docs: DataFrame, minCount: Long): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(explode(expr(
        """transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |  (t, i) -> named_struct('u', t, 't', element_at(toks, i + 2)))""".stripMargin))
        .as("p"))
      .select(col("p.u").as("u"), col("p.t").as("t"))
    val cut = pairs.groupBy(col("u"), col("t")).agg(count(lit(1)).as("c_ut"))
      // feeds both marginals, the total, and the scored join — persist
      // so the pair explode + count shuffle runs once per action
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = cut.groupBy(col("u")).agg(sum(col("c_ut")).as("c_u"))
    val right = cut.groupBy(col("t")).agg(sum(col("c_ut")).as("c_t"))
    val n = cut.agg(sum(col("c_ut")).as("n_big"))
    cut.filter(col("c_ut") >= minCount)
      .join(left, "u").join(right, "t")
      .crossJoin(broadcast(n))
      .select(col("u"), col("t"), col("c_ut"),
        round(lit(1000000.0) *
          log((col("n_big").cast("double") * col("c_ut")) /
              (col("c_u").cast("double") * col("c_t"))))
          .cast("long").as("pmi_micro"))
  }

  /** q113: collocations of the documents corpus (count floor 5),
    * hash-checked — including the snapped PMI scores — against the
    * same marginal arithmetic in DuckDB.
    */
  val q113: QueryDef = QueryDef.checked(
    "q113_pmi_collocations",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
      |big AS (
      |  SELECT doc_id, lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS u, t
      |  FROM tok QUALIFY u IS NOT NULL),
      |cut AS (SELECT u, t, COUNT(*) AS c_ut FROM big GROUP BY 1, 2),
      |lm AS (SELECT u, CAST(SUM(c_ut) AS BIGINT) AS c_u FROM cut GROUP BY 1),
      |rm AS (SELECT t, CAST(SUM(c_ut) AS BIGINT) AS c_t FROM cut GROUP BY 1),
      |n AS (SELECT CAST(SUM(c_ut) AS BIGINT) AS n_big FROM cut)
      |SELECT cut.u, cut.t, c_ut,
      |  CAST(ROUND(1000000.0 * ln((n_big * 1.0 * c_ut) / (c_u * 1.0 * c_t)))
      |    AS BIGINT) AS pmi_micro
      |FROM cut JOIN lm USING (u) JOIN rm USING (t) CROSS JOIN n
      |WHERE c_ut >= 5
      |ORDER BY pmi_micro DESC, u, t""".stripMargin) { (s, d) =>
    pmiCollocations(Tables.documents(s, d), minCount = 5L)
      .orderBy(col("pmi_micro").desc, col("u"), col("t"))
  }

  /** Per-document distinct bigram occurrences, built ROW-LOCALLY (a
    * transform over the token array — no doc_id shuffle; contrast the
    * q86 lag-window form, which shuffles to order tokens it already has
    * in order inside the array).
    */
  def bigramOccurrences(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(array_distinct(expr(
        """transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |  (t, i) -> concat(t, ' ', element_at(toks, i + 2)))""".stripMargin)))
        .as("term"))

  /** q102: a bigram (phrase) inverted index over documents — 916 bigram
    * types at sf0.01, df band [5, 40] prunes both the rare tail and the
    * hottest phrases before any list is built. Hash-checked — including
    * every full comma-joined posting list — against DuckDB's ordered
    * string_agg.
    */
  val q102: QueryDef = QueryDef.checked(
    "q102_inverted_index",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents),
      |big AS (
      |  SELECT doc_id, lag(t) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || t AS term
      |  FROM tok QUALIFY lag(t) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
      |occ AS (SELECT DISTINCT doc_id, term FROM big),
      |p AS (
      |  SELECT term, COUNT(*) AS df,
      |    string_agg(doc_id, ',' ORDER BY doc_id) AS postings
      |  FROM occ GROUP BY term)
      |SELECT term, df, postings FROM p
      |WHERE df BETWEEN 5 AND 40 ORDER BY term""".stripMargin) { (s, d) =>
    invertedIndex(bigramOccurrences(Tables.documents(s, d)), minDf = 5L, maxDf = 40L)
      .orderBy(col("term"))
  }

  /** q180: Unicode NFC normalization ([[graft.functions.NfcNormalize]],
    * the codegen expression Spark lacks a builtin for) under the oracle.
    * The corpus text is ASCII, where NFC is the identity — so the query
    * first DECOMPOSES it deterministically (every 'e' gains a combining
    * acute U+0301, the canonical decomposed form of 'é') and then
    * normalizes; NFC must recompose each pair to precomposed U+00E9.
    * DuckDB's `nfc_normalize` over the identically-decomposed string
    * must produce byte-identical output — both engines are pinned to
    * the same Unicode canonical-composition tables. `n_composed` (the
    * codepoint count the recomposition removed) is cross-checked too:
    * Spark `length` and DuckDB `length` both count codepoints.
    */
  val q180: QueryDef = QueryDef.checked(
    "q180_nfc_normalize",
    """WITH dec AS (
      |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS decomposed
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(decomposed) AS norm,
      |  length(decomposed) - length(nfc_normalize(decomposed)) AS n_composed
      |FROM dec ORDER BY doc_id""".stripMargin) { (s, d) =>
    import graft.functions.NfcNormalize.nfc
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(col("text"), "e", "e\u0301").as("decomposed"))
      .select(col("doc_id"), nfc(col("decomposed")).as("norm"),
        (length(col("decomposed")) - length(nfc(col("decomposed"))))
          .as("n_composed"))
      .orderBy(col("doc_id"))
  }

  /** q191: the corpus frequency-of-frequencies spectrum — for each token
    * frequency r, the number of distinct token TYPES occurring exactly r
    * times, plus each bucket's share of total token mass (ppm, integer).
    * The r=1 row is the hapax count (the vocabulary's long-tail mass and
    * the input to Good–Turing smoothing); the spectrum's decay is the
    * empirical Zipf check run before committing a tokenizer vocab size
    * (pairs with q115's vocabulary encoding and q76's merge stats).
    *
    * Scale: two chained hash aggregations — token counts (map-side
    * combined over the exploded stream, keyed on the token) then a
    * count keyed on the frequency. The second input is one row per
    * vocabulary TYPE, already orders of magnitude below the corpus;
    * output rows = distinct frequencies (≤ vocabulary size, heavily
    * concentrated at small r).
    */
  val q191: QueryDef = QueryDef.checked(
    "q191_freq_spectrum",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |tc AS (SELECT t, COUNT(*) AS freq FROM tok GROUP BY t),
      |tot AS (SELECT COUNT(*) AS n FROM tok)
      |SELECT freq, COUNT(*) AS n_types,
      |  freq * COUNT(*) * 1000000 // (SELECT n FROM tot) AS mass_ppm
      |FROM tc GROUP BY freq ORDER BY freq""".stripMargin) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("t"))
    val tot = tok.agg(count(lit(1)).as("n"))
    tok.groupBy(col("t")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_types"))
      .crossJoin(broadcast(tot))
      .select(col("freq"), col("n_types"),
        expr("freq * n_types * 1000000 div n").as("mass_ppm"))
      .orderBy(col("freq"))
  }

  /** q246: skip-gram context pairs (window ±2) — the word2vec/GloVe
    * training-pair extraction (q113's adjacent bigrams are the d=1
    * slice of this): every (center, context) pair within two positions,
    * both directions. The forward pairs are built ROW-LOCALLY (one
    * transform over the token array — no position shuffle, the q113
    * bigram lesson), and the backward direction is the same frame with
    * the columns swapped — a union, not a second scan, because
    * directed-pair counts are mirror-symmetric by construction. Shape:
    * row-local explode → one (center, context)-keyed count (fanout ≤ 2
    * rows per token per direction) → TakeOrdered top-20; at 100 TB
    * nothing shuffles except the bounded pair counts.
    */
  val q246: QueryDef = QueryDef.checked(
    "q246_skipgram_pairs",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |fwd AS (
      |  SELECT a.t AS c, b.t AS ctx
      |  FROM tok a JOIN tok b
      |    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)),
      |bidir AS (
      |  SELECT c, ctx FROM fwd
      |  UNION ALL SELECT ctx, c FROM fwd),
      |cnt AS (SELECT c, ctx, COUNT(*) AS n FROM bidir GROUP BY 1, 2)
      |SELECT c, ctx, n FROM cnt
      |ORDER BY n DESC, c, ctx LIMIT 20""".stripMargin) { (s, d) =>
    val fwd = Tables.documents(s, d)
      .select(split(col("text"), " ").as("toks"))
      .select(explode(expr(
        """flatten(transform(toks, (t, i) -> filter(array(
          |  IF(i + 2 <= size(toks),
          |    named_struct('c', t, 'ctx', element_at(toks, i + 2)), NULL),
          |  IF(i + 3 <= size(toks),
          |    named_struct('c', t, 'ctx', element_at(toks, i + 3)), NULL)
          |), x -> x IS NOT NULL)))""".stripMargin)).as("p"))
      .select(col("p.c").as("c"), col("p.ctx").as("ctx"))
    fwd.unionByName(fwd.select(col("ctx").as("c"), col("c").as("ctx")))
      .groupBy(col("c"), col("ctx"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("c"), col("ctx"))
      .limit(20)
  }

  /** Per-document suffix-array construction by PREFIX DOUBLING — the
    * index machinery behind exact substring dedup (q82/q83 detect fixed-k
    * spans; a suffix array answers EVERY k at once — Manber & Myers 1990,
    * and the sort-based distributed form is the standard large-corpus
    * construction, cf. Lee et al. 2022's suffix-array dedup). Round 0
    * ranks each position by its character code; round k doubles the
    * compared prefix: rank_{2k}(i) = dense_rank(rank_k(i),
    * rank_k(i+k)), with positions past the end carried as 0 — smaller
    * than every real rank, which makes a shorter suffix order before its
    * extensions exactly as binary string comparison does. ⌈log₂ maxLen⌉
    * rounds; suffixes of one document are pairwise distinct (lengths
    * differ), so the final dense rank is the 1..n suffix-array
    * permutation.
    *
    * Scale/plan shape: every window is keyed by doc_id — ONE exchange,
    * then each doubling round is an in-partition sort (rank_k(i+k) is a
    * `lead`, never a self-join, because positions are contiguous).
    * Documents are independent, so the corpus parallelizes per-doc;
    * the cap is per-partition doc length (a single multi-GB document
    * needs the corpus-global variant: concatenate with per-doc
    * separators and key windows by range buckets — the same dataflow
    * with a range repartition per round; documented, not built — no
    * catalog table has such rows).
    */
  /** Seed rank covering the first 2^`seedLog2` characters in ONE
    * row-local expression: on a pure-ASCII corpus, 8 chars pack into
    * one long as 8 base-128 digits (Horner form, codegen'd), with
    * past-the-end reading as digit 0 — the same smaller-than-every-
    * real-rank sentinel the doubling uses, so pack order == prefix
    * order including the shorter-suffix-first rule. Cuts 3 of the 10
    * doubling rounds. Non-ASCII corpora (probed, one bounded agg) fall
    * back to the single-char seed — code points can exceed 7 bits.
    */
  private def asciiSeed(seedChars: Int): org.apache.spark.sql.Column =
    (0 until seedChars).foldLeft(lit(0L)) { (acc, j) =>
      acc * 128L + ascii(expr(s"substring(text, pos + ${j + 1}, 1)"))
        .cast("long")
    }

  private def maxCharCode(positions: DataFrame): Int =
    positions.agg(max(ascii(expr("substring(text, pos + 1, 1)"))))
      .head().getInt(0)

  def suffixRanks(docs: DataFrame, maxLenLog2: Int = 10): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // Explicit-width repartition, not ENSURE_REQUIREMENTS: the position
    // frame is NARROW (3 ints/row), so AQE's advisory-size coalescing
    // collapses the one exchange to a single partition and every
    // doubling round's sorts run on one thread. A user-specified
    // partition count is exempt from coalescing; all 2·log L window
    // sorts then run at full width with no further exchange (same key).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // Empty texts must drop BEFORE the position explode: Spark's
    // two-arg sequence() infers a DESCENDING step when start > stop,
    // so sequence(0, -1) is [0, -1] — two phantom positions — not [].
    val base = docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(sequence(lit(0),
        length(col("text")) - 1)).as("pos"), col("text"))
    val seedLog2 = if (maxCharCode(base) <= 127) 3 else 0
    var df = base
      .select(col("doc_id"), col("pos"),
        asciiSeed(1 << seedLog2).as("r"))
      .repartition(par, col("doc_id"))
    // dense_rank on the (r, rn) PAIR — no packing, so the seed's 2^56
    // magnitude needs no normalization round here (contrast
    // globalSuffixRanks, whose packed key must bound r).
    for (k <- (seedLog2 until maxLenLog2).map(1 << _)) {
      val ord = Window.partitionBy(col("doc_id"))
        .orderBy(col("r"), col("rn"))
      df = df
        .withColumn("rn", coalesce(lead(col("r"), k).over(byPos), lit(0L)))
        .withColumn("r", dense_rank().over(ord))
    }
    df.select(col("doc_id"), col("pos").cast("long").as("pos"),
      col("r").cast("long").as("rnk"))
  }

  /** The corpus suffix array as a build-once parquet asset (the q78/q125
    * persistent-index discipline): the ⌈log₂ L⌉ doubling rounds run once
    * per (corpus, JVM) — itemized in the bench's setup ledger — and both
    * q260 (the index itself) and q261 (its LCP application) serve from
    * the materialized (doc_id, pos, rnk) table. This IS the 100 TB
    * shape: Lee et al. build the suffix array once and run every dedup
    * query against it.
    */
  def suffixRankTable(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val path = Exact.buildOnceDir(s"sa#$d", "graft_sa_") { p =>
      suffixRanks(Tables.documents(s, d)).write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** q260: the full within-doc suffix array of every document, hash-
    * checked — all ~n·avgLen positions — against DuckDB ordering the
    * materialized suffix strings directly (binary collation == the
    * 0-sentinel doubling order; both engines see pure-ASCII text).
    */
  val q260: QueryDef = QueryDef.checked(
    "q260_suffix_array",
    """SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
      |  CAST(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY substr(text, CAST(u.i AS INT))) AS BIGINT) AS rnk
      |FROM documents, unnest(generate_series(1, len(text))) AS u(i)
      |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
    suffixRankTable(s, d).orderBy(col("doc_id"), col("pos"))
  }

  /** Longest repeated substring per document (capped at `cap` chars) —
    * the suffix array's canonical application and the statistic behind
    * suffix-array dedup: the LRS is exactly the max LCP between
    * RANK-ADJACENT suffixes (any two occurrences of a repeat are
    * prefixes of two suffixes, and the pair minimizing rank distance is
    * adjacent), so one `lead` over the rank order replaces the O(n²)
    * all-pairs scan. Overlapping occurrences count, per the standard
    * definition ("aaaa" → "aaa").
    *
    * Plan shape: pairs are built NARROW (doc, pos_a, pos_b) by a rank-
    * ordered window over the memoized index; text joins once per doc
    * and is immediately projected to two ≤cap-char slices, so the
    * argmax window shuffles ~2·cap bytes per position, never whole
    * documents. The char-compare fold is row-local codegen; cross-
    * engine exactness comes from substring-past-end = '' in both
    * engines and the (len DESC, substring, pos) tie rule.
    */
  def longestRepeatedSubstring(sr: DataFrame, docs: DataFrame,
      cap: Int = 64): DataFrame = {
    val byRank = Window.partitionBy(col("doc_id")).orderBy(col("rnk"))
    // Same explicit-width rule as suffixRanks: the index frame is
    // narrow, and AQE's advisory coalescing would run the whole LCP
    // pass on one partition.
    val par = sr.sparkSession.sparkContext.defaultParallelism
    val pairs = sr
      .repartition(par, col("doc_id"))
      .withColumn("pos_b", lead(col("pos"), 1).over(byRank))
      .filter(col("pos_b").isNotNull)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, pos + 1, $cap)").as("sa"),
        expr(s"substring(text, pos_b + 1, $cap)").as("sb"))
    // LCP by the power-of-two ladder: l += step when the next `step`
    // chars agree (truncated-substring equality == string-prefix
    // equality, so running past a slice's end is self-correcting).
    // 7 substring compares per row, ALL codegen — the per-char
    // higher-order-function fold this replaces was interpreted and
    // O(cap²) per row (substring(k,1) rescans from the start), which
    // measured ~100× slower at sf0.1.
    require(Integer.bitCount(cap) == 1, s"cap must be a power of two: $cap")
    val laddered = (0 to Integer.numberOfTrailingZeros(cap)).reverse
      .map(1 << _)
      .foldLeft(pairs.withColumn("lcp", lit(0))) { (df, step) =>
        df.withColumn("lcp", col("lcp") +
          when(col("lcp") + step <= cap &&
            expr(s"substring(sa, lcp + 1, $step)") ===
              expr(s"substring(sb, lcp + 1, $step)"), lit(step))
            .otherwise(lit(0)))
      }
    val best = Window.partitionBy(col("doc_id"))
      .orderBy(col("lcp").desc, col("lrs"), col("pos"))
    laddered
      .withColumn("lrs", expr("substring(sa, 1, lcp)"))
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lcp").cast("long").as("lrs_len"),
        col("lrs"))
      .orderBy(col("doc_id"))
  }

  /** CORPUS-GLOBAL suffix ranks — q260's doubling lifted from per-doc
    * windows to a global order, the index Lee et al.-style CROSS-document
    * dedup needs. Suffixes never extend past their document (an implicit
    * separator), so the i+k lookup stays a doc-keyed `lead`; what
    * changes is the re-ranking, which must now be a GLOBAL rank — and a
    * global window is Spark's single-partition trap (q241's scaladoc).
    * Each round therefore ranks two-phase, on the (rank, next-rank)
    * PAIR directly (rn = 0 sentinel past doc end): rows bucket by the
    * order-preserving `c1 div width` — bucketing on the first component
    * alone is order-preserving for the lexicographic pair order, and
    * after the first round c1 is a dense-ish global rank ≤ N, so the
    * grid is uniform BY CONSTRUCTION — bucket COUNTS prefix-sum into
    * offsets (a B-row frame — the only global window), and the global
    * rank is `offset + rank() within bucket ORDER BY (c1, c2)` —
    * rank(), not row_number, so EQUAL prefixes share a rank (ties are
    * semantics here: equal suffixes from different docs must collide).
    * Earlier versions packed the pair into one long `r·(N+1) + rn`,
    * which silently overflows Int64 once N ≥ 3 037 000 499 positions
    * (~3 GB of text — far below the 100 TB target); two-column ranking
    * has no radix and therefore no size limit, and it lets the first
    * doubling pair RAW 8-char seeds instead of first normalizing them
    * to ranks — one fewer global round. Every data-sized stage stays
    * partitioned; rounds localCheckpoint (the iterative-loop lineage
    * discipline). Ranks reflect min(|suffix|, 2^maxLenLog2) prefixes —
    * the fixed unroll IS the contract (q144 stance), sized 1024 ≥ 2×
    * the longest catalog document.
    *
    * 100 TB notes: only the FIRST round's grid depends on data spread
    * (raw seeds bucket by their top base-128 digit ≈ the first char, so
    * an all-lowercase corpus fills ~14 of 64 cells); under adversarial
    * skew swap in q155's quantile cutpoints for that round. From round
    * 2 on c1 is a global rank — uniform regardless of text. rank()
    * within a bucket is int-bounded; buckets scale with the corpus so
    * a bucket stays ≪ 2³¹.
    */
  def globalSuffixRanks(docs: DataFrame, buckets: Int = 64,
      maxLenLog2: Int = 10): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))

    /** One two-phase global rank of the (c1, c2) pair (see the
      * scaladoc): order-preserving div-grid buckets on c1 under
      * `width`, bucket-count offset prefix-sum, within-bucket rank()
      * over (c1, c2) so equal pairs collide. No packing — no radix, no
      * Int64 ceiling.
      */
    def globalRank(df: DataFrame, width: Long): DataFrame = {
      val b = df.withColumn("bkt", expr(s"c1 div ${width}L"))
      val offs = b.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          Window.orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bkt"), col("off"))
      b.join(broadcast(offs), Seq("bkt"))
        .withColumn("r", (col("off") + rank().over(
          Window.partitionBy(col("bkt"))
            .orderBy(col("c1"), col("c2")))).cast("long"))
        .select(col("doc_id"), col("pos"), col("r"))
    }

    val chars = docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(sequence(lit(0),
        length(col("text")) - 1)).as("pos"), col("text"))
    val seedLog2 = if (maxCharCode(chars) <= 127) 3 else 0
    // largest raw seed value: 8 full base-128 digits, or one code point
    val seedMax = if (seedLog2 == 3) (1L << 56) - 1L else 0x10FFFFL
    val seeded = Rounds.truncate(chars
      .select(col("doc_id"), col("pos"), asciiSeed(1 << seedLog2).as("r"))
      .repartition(par, col("doc_id")), eager = true)
    val n = seeded.count()
    val width = n / buckets + 1L
    val shifts = (seedLog2 until maxLenLog2).map(1 << _)
    val df = Rounds.iterate("suffix_rank_doubling", seeded, shifts.size) {
      (df, round) =>
        // Round 1 pairs the RAW seeds (values up to seedMax) — its grid
        // width must span the seed range; every later round's c1 is a
        // global rank ≤ n.
        val w = if (round == 1) seedMax / buckets + 1L else width
        globalRank(
          df.withColumn("c1", col("r"))
            .withColumn("c2",
              coalesce(lead(col("r"), shifts(round - 1)).over(byPos), lit(0L))),
          w)
    }
    df.select(col("doc_id"), col("pos").cast("long").as("pos"),
      col("r").as("grank"))
  }

  /** The global index as a build-once parquet asset (the
    * [[suffixRankTable]] discipline, corpus-global flavor). */
  def globalSuffixRankTable(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val path = Exact.buildOnceDir(s"gsa#$d", "graft_gsa_") { p =>
      globalSuffixRanks(Tables.documents(s, d))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** Longest substrings shared ACROSS documents — the cross-doc
    * complement of [[longestRepeatedSubstring]] and the exact statistic
    * suffix-array dedup removes: any substring common to two documents
    * heads a contiguous global-rank interval containing suffixes of
    * both, so some RANK-ADJACENT pair with differing doc_ids attains the
    * max — adjacency over the global order replaces the all-pairs scan,
    * exactly as in the single-doc case. Neighbor pairing avoids the
    * global-window trap a second time: a dense global row id comes from
    * the same two-phase bucket/offset machinery (row_number now — the
    * id must be unique) and neighbors meet in an EQUI-join on idx+1.
    * Text joins once per doc, projects to ≤cap-char slices before any
    * pair shuffle; LCP is the q261 codegen ladder clamped by both slice
    * lengths (two equal short suffixes must report their true length,
    * not the cap).
    */
  def crossDocSharedSpans(gsr: DataFrame, docs: DataFrame, cap: Int = 64,
      topK: Int = 10, buckets: Int = 64): DataFrame = {
    require(Integer.bitCount(cap) == 1, s"cap must be a power of two: $cap")
    val par = gsr.sparkSession.sparkContext.defaultParallelism
    val n = gsr.count()
    val width = n / buckets + 1L
    val b = gsr.withColumn("bkt", expr(s"grank div ${width}L"))
      .repartition(par, col("bkt"))
    val offs = b.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val indexed = b.join(broadcast(offs), Seq("bkt"))
      .withColumn("idx", col("off") + row_number().over(
        Window.partitionBy(col("bkt"))
          .orderBy(col("grank"), col("doc_id"), col("pos"))).cast("long"))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("idx"), col("doc_id"), col("pos"),
        expr(s"substring(text, pos + 1, $cap)").as("s"))
    val lhs = indexed.select(col("idx"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"), col("s").as("sa"))
    val rhs = indexed.select((col("idx") - 1L).as("idx"),
      col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("s").as("sb"))
    val pairs = lhs.join(rhs, Seq("idx"))
      .filter(col("doc_a") =!= col("doc_b"))
    val laddered = (0 to Integer.numberOfTrailingZeros(cap)).reverse
      .map(1 << _)
      .foldLeft(pairs.withColumn("lcp", lit(0))) { (df, step) =>
        df.withColumn("lcp", col("lcp") +
          when(col("lcp") + step <= cap &&
            expr(s"substring(sa, lcp + 1, $step)") ===
              expr(s"substring(sb, lcp + 1, $step)"), lit(step))
            .otherwise(lit(0)))
      }
    laddered
      .withColumn("lcp", least(col("lcp"), length(col("sa")),
        length(col("sb"))))
      .withColumn("lrs", expr("substring(sa, 1, lcp)"))
      .select(col("lcp").cast("long").as("lrs_len"), col("lrs"),
        col("doc_a"), col("pos_a").cast("long").as("pos_a"),
        col("doc_b"), col("pos_b").cast("long").as("pos_b"))
      .orderBy(col("lrs_len").desc, col("lrs"), col("doc_a"), col("pos_a"),
        col("doc_b"), col("pos_b"))
      .limit(topK)
  }

  /** q262: the 10 longest cross-document shared substrings (cap 64) off
    * the memoized global index, hash-checked — length, substring, and
    * both (doc, pos) witnesses — against DuckDB sorting materialized
    * suffixes globally and replaying the identical adjacency, clamp,
    * and tie rules.
    */
  val q262: QueryDef = QueryDef.checked(
    "q262_crossdoc_spans",
    """WITH sfx AS (
      |  SELECT doc_id, u.i - 1 AS pos,
      |    substr(text, CAST(u.i AS INT), 64) AS s64,
      |    substr(text, CAST(u.i AS INT)) AS sf
      |  FROM documents, unnest(generate_series(1, len(text))) AS u(i)),
      |ord AS (
      |  SELECT doc_id, pos, s64,
      |    lead(doc_id) OVER w AS doc_b, lead(pos) OVER w AS pos_b,
      |    lead(s64) OVER w AS sb
      |  FROM sfx WINDOW w AS (ORDER BY sf, doc_id, pos)
      |  QUALIFY lead(doc_id) OVER w IS NOT NULL
      |    AND lead(doc_id) OVER w <> doc_id),
      |lc AS (
      |  SELECT doc_id AS doc_a, pos AS pos_a, doc_b, pos_b, s64,
      |    least(coalesce(list_min(list_filter(range(1, 65),
      |      k -> substr(s64, CAST(k AS INT), 1) <> substr(sb, CAST(k AS INT), 1))),
      |      65) - 1, len(s64), len(sb)) AS lcp
      |  FROM ord)
      |SELECT CAST(lcp AS BIGINT) AS lrs_len,
      |  substr(s64, 1, CAST(lcp AS INT)) AS lrs,
      |  doc_a, CAST(pos_a AS BIGINT) AS pos_a,
      |  doc_b, CAST(pos_b AS BIGINT) AS pos_b
      |FROM lc
      |ORDER BY lrs_len DESC, lrs, doc_a, pos_a, doc_b, pos_b
      |LIMIT 10""".stripMargin) { (s, d) =>
    crossDocSharedSpans(globalSuffixRankTable(s, d), Tables.documents(s, d))
  }

  /** q261: per-doc longest repeated substring (cap 64) off the memoized
    * q260 index, hash-checked — length AND the substring itself —
    * against DuckDB replaying rank-adjacent LCPs with the identical
    * mismatch-scan and tie rule.
    */
  val q261: QueryDef = QueryDef.checked(
    "q261_longest_repeat",
    """WITH sr AS (
      |  SELECT doc_id, u.i - 1 AS pos, text,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY substr(text, CAST(u.i AS INT))) AS rnk
      |  FROM documents, unnest(generate_series(1, len(text))) AS u(i)),
      |pr AS (
      |  SELECT doc_id, pos,
      |    substr(text, CAST(pos + 1 AS INT), 64) AS sa,
      |    substr(text, CAST(lead(pos) OVER (PARTITION BY doc_id ORDER BY rnk)
      |      + 1 AS INT), 64) AS sb
      |  FROM sr
      |  QUALIFY lead(pos) OVER (PARTITION BY doc_id ORDER BY rnk) IS NOT NULL),
      |lc AS (
      |  SELECT doc_id, pos,
      |    coalesce(list_min(list_filter(range(1, 65),
      |      k -> substr(sa, CAST(k AS INT), 1) <> substr(sb, CAST(k AS INT), 1))),
      |      65) - 1 AS lcp,
      |    sa
      |  FROM pr),
      |best AS (
      |  SELECT doc_id, lcp, substr(sa, 1, CAST(lcp AS INT)) AS lrs,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY lcp DESC, substr(sa, 1, CAST(lcp AS INT)), pos) AS rn
      |  FROM lc)
      |SELECT doc_id, CAST(lcp AS BIGINT) AS lrs_len, lrs
      |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    longestRepeatedSubstring(suffixRankTable(s, d), Tables.documents(s, d))
  }
}
