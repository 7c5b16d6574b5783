package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-curation operators a training-data pipeline runs constantly:
  * stratified subsampling (cap docs per stratum) and distribution
  * profiling (token-length histogram). Both deterministic and
  * oracle-checked — sampling uses md5 order (stable in any engine), not
  * rand().
  */
object Sampling {

  def defs: Seq[QueryDef] =
    Seq(q53, q54, q55, q56, q67, q77, q104, q106, q111, q164, q170, q171,
      q192, q215, q225, q226, q231, q243, q272)

  /** Generic stratified sample: at most `k` rows per stratum, selected
    * by `hashOrder` (e.g. md5 of a content column) — deterministic,
    * uniform-ish, and reproducible across engines/runs (rand() is none
    * of those). One shuffle on the stratum key; the window top-k never
    * global-sorts. Returns the input columns plus `rn` (1..k within the
    * stratum).
    */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame,
      strata: Seq[String], k: Int,
      hashOrder: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(strata.map(col): _*).orderBy(hashOrder)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** q53: ≤5 documents per (lang, source) stratum by (md5(text), doc_id)
    * order, via [[stratifiedSample]].
    */
  val q53: QueryDef = QueryDef.checked(
    "q53_stratified_sample",
    """WITH ranked AS (
      |  SELECT doc_id, lang, source, md5(text) AS h,
      |         row_number() OVER (PARTITION BY lang, source ORDER BY md5(text), doc_id) AS rn
      |  FROM documents)
      |SELECT lang, source, doc_id, rn
      |FROM ranked WHERE rn <= 5 ORDER BY lang, source, rn""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        md5(col("text").cast("binary")).as("h"))
    stratifiedSample(docs, Seq("lang", "source"), k = 5,
        hashOrder = struct(col("h"), col("doc_id")))
      .select(col("lang"), col("source"), col("doc_id"), col("rn"))
      .orderBy(col("lang"), col("source"), col("rn"))
  }

  /** Token-length histogram: corpus length distribution in fixed-width
    * buckets (the profile every data-quality pass reads first). Single
    * scan, map-side partial agg, ~20 output rows — the shape that works
    * at any corpus size.
    */
  val q54: QueryDef = QueryDef.checked(
    "q54_token_histogram",
    """SELECT CAST(floor(len(string_split(text, ' ')) / 20) AS BIGINT) AS bucket,
      | COUNT(*) AS n_docs,
      | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      | MIN(len(string_split(text, ' '))) AS min_len,
      | MAX(len(string_split(text, ' '))) AS max_len
      |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    val nTok = size(split(col("text"), " "))
    Tables.documents(s, d)
      // floor (not a bare cast): DuckDB CAST(double AS BIGINT) ROUNDS
      // while Spark's cast truncates — floor makes both sides identical
      .select(floor(nTok.cast("long") / 20).cast("long").as("bucket"), nTok.as("len"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).cast("long").as("n_tokens"),
        min(col("len")).as("min_len"),
        max(col("len")).as("max_len"))
      .orderBy(col("bucket"))
  }

  /** q67: per-language token-length quantiles (p05/p50/p95) + range. */
  val q67: QueryDef = QueryDef.checked(
    "q67_group_quantiles",
    """SELECT lang, count(*) AS n,
      |  round(quantile_cont(len(string_split(text,' ')), 0.05), 6) AS p5,
      |  round(quantile_cont(len(string_split(text,' ')), 0.5), 6) AS p50,
      |  round(quantile_cont(len(string_split(text,' ')), 0.95), 6) AS p95,
      |  min(len(string_split(text,' '))) AS lo,
      |  max(len(string_split(text,' '))) AS hi
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val len = size(split(col("text"), " "))
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        round(percentile(len, lit(0.05)), 6).as("p5"),
        round(percentile(len, lit(0.5)), 6).as("p50"),
        round(percentile(len, lit(0.95)), 6).as("p95"),
        min(len).as("lo"), max(len).as("hi"))
      .orderBy(col("lang"))
  }

  /** q77: length-balanced stratified sample — tercile cutoffs from the
    * DISCRETE percentile (an actual data value, integer, so the
    * stratum-boundary comparison is exact in both engines — the
    * interpolating form would hang membership on a float ulp), then ≤10
    * docs per stratum by md5 order via [[stratifiedSample]]. This is
    * the balance pass that stops short docs from dominating a training
    * mix. percentile_disc aggregates a counts-map over DISTINCT lengths
    * (bounded, map-side combined) — scale-safe; the 1-row cutoff frame
    * broadcasts into the bucketing join.
    */
  val q77: QueryDef = QueryDef.checked(
    "q77_length_balanced_sample",
    """WITH lens AS (
      |  SELECT doc_id, text, len(string_split(text,' ')) AS n_tok FROM documents),
      |cut AS (
      |  SELECT percentile_disc(0.33) WITHIN GROUP (ORDER BY n_tok) AS c1,
      |         percentile_disc(0.66) WITHIN GROUP (ORDER BY n_tok) AS c2
      |  FROM lens),
      |strat AS (
      |  SELECT doc_id, n_tok, md5(text) AS h,
      |    CASE WHEN n_tok <= c1 THEN 'short'
      |         WHEN n_tok <= c2 THEN 'mid' ELSE 'long' END AS stratum
      |  FROM lens, cut),
      |ranked AS (
      |  SELECT stratum, doc_id, n_tok,
      |    row_number() OVER (PARTITION BY stratum ORDER BY h, doc_id) AS rn
      |  FROM strat)
      |SELECT stratum, doc_id, n_tok, rn FROM ranked
      |WHERE rn <= 10 ORDER BY stratum, rn""".stripMargin) { (s, d) =>
    val lens = Tables.documents(s, d)
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).as("n_tok"))
    val cut = lens.agg(
      expr("percentile_disc(0.33) WITHIN GROUP (ORDER BY n_tok)").as("c1"),
      expr("percentile_disc(0.66) WITHIN GROUP (ORDER BY n_tok)").as("c2"))
    val strat = lens.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("n_tok"),
        md5(col("text").cast("binary")).as("h"),
        when(col("n_tok") <= col("c1"), "short")
          .when(col("n_tok") <= col("c2"), "mid")
          .otherwise("long").as("stratum"))
    stratifiedSample(strat, Seq("stratum"), k = 10,
        hashOrder = struct(col("h"), col("doc_id")))
      .select(col("stratum"), col("doc_id"), col("n_tok"), col("rn"))
      .orderBy(col("stratum"), col("rn"))
  }

  /** Text normalization → dedup: the pass that collapses case/whitespace
    * variants before exact dedup (run on every crawled corpus). This
    * corpus is already canonical, so the query PLANTS one variant per
    * document (upper-cased, doubled spaces, trailing blank) and proves
    * the normalizer (lower + whitespace-collapse + trim) maps each
    * variant back onto its original: every fingerprint group has exactly
    * the pair (id, id+100000).
    */
  val q55: QueryDef = QueryDef.checked(
    "q55_normalized_dedup",
    """WITH both_forms AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, upper(replace(text, ' ', '  ')) || ' ' FROM documents),
      |normed AS (
      |  SELECT doc_id,
      |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM both_forms)
      |SELECT min(doc_id) AS doc_id, count(*) AS n_variants,
      |       max(doc_id) - min(doc_id) AS id_gap
      |FROM normed GROUP BY fp ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val variants = docs.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(upper(regexp_replace(col("text"), " ", "  ")), lit(" ")).as("text"))
    val normed = docs.unionByName(variants)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary")).as("fp"))
    normed.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_variants"),
        (max(col("doc_id")) - min(col("doc_id"))).as("id_gap"))
      .select(col("doc_id"), col("n_variants"), col("id_gap"))
      .orderBy(col("doc_id"))
  }

  /** PII-style redaction: regex scrubbing of emails and phone-like
    * numbers (the pass every published training corpus runs). The corpus
    * text is synthetic word soup, so the query PLANTS a contact string on
    * every 7th document and verifies the scrubber finds exactly those:
    * per-doc match counts plus the redacted text's fingerprint, all
    * reproducible in the oracle.
    */
  val q56: QueryDef = QueryDef.checked(
    "q56_pii_redaction",
    """WITH planted AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |         THEN text || ' contact john@a.io or 0412 345 678'
      |         ELSE text END AS text
      |  FROM documents),
      |red AS (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
      |    len(regexp_extract_all(text, '[0-9][0-9 -]{7,}[0-9]')) AS n_phones,
      |    regexp_replace(
      |      regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
      |      '[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g') AS clean
      |  FROM planted)
      |SELECT doc_id, n_emails, n_phones, md5(clean) AS clean_fp, len(clean) AS clean_len
      |FROM red ORDER BY doc_id""".stripMargin) { (s, d) =>
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phoneRe = "[0-9][0-9 -]{7,}[0-9]"
    val planted = Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact john@a.io or 0412 345 678")))
          .otherwise(col("text")).as("text"))
    planted
      .select(col("doc_id"),
        // idx 0 = the whole match (the default idx 1 means capture group
        // 1, which these patterns don't have)
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).as("n_phones"),
        regexp_replace(
          regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("clean"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("clean").cast("binary")).as("clean_fp"),
        length(col("clean")).as("clean_len"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test assignment: each row's split comes
    * from a salted md5 fraction of its id — row-local (NO shuffle, no
    * join, no global pass), reproducible across engines and runs, and
    * stable under corpus growth (a doc keeps its split when new docs
    * arrive — the property rand()-based splitting cannot give you, and
    * the one that prevents silent train/test leakage between pipeline
    * re-runs). `splits` = (name, fraction) in order; fractions sum to 1.
    * The salt keeps this hash stream independent of every other md5 use
    * on the same id column (q60's sampling fraction, q53's ordering).
    */
  def hashSplit(df: org.apache.spark.sql.DataFrame, idCol: String,
      splits: Seq[(String, Double)],
      salt: String = "split"): org.apache.spark.sql.DataFrame = {
    val f = conv(substring(md5(concat(lit(s"$salt:"),
        col(idCol).cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long") / lit(4294967296.0)
    val uppers = splits.scanLeft(0.0)(_ + _._2).tail
    val assign = splits.zip(uppers).init
      .foldRight(lit(splits.last._1): org.apache.spark.sql.Column) {
        case (((name, _), ub), acc) => when(col("f") < lit(ub), name).otherwise(acc)
      }
    df.withColumn("f", f).withColumn("split", assign).drop("f")
  }

  /** Oracle-side thresholds rendered from the SAME Scala cumulative
    * doubles (0.8 + 0.1 is 0.9000000000000001 in IEEE — writing "0.9"
    * in the SQL would disagree on any fraction landing between).
    */
  private val splitCums: Seq[Double] =
    Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail

  /** q104: 80/10/10 split of the documents corpus, hash-checked per
    * document against the same salted-md5 arithmetic in DuckDB.
    */
  val q104: QueryDef = QueryDef.checked(
    "q104_hash_split",
    s"""WITH f AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      / 4294967296.0 AS f
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN f < ${splitCums(0)} THEN 'train'
      |       WHEN f < ${splitCums(1)} THEN 'val' ELSE 'test' END AS split
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    hashSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Equi-depth histogram: bucket boundaries from percentile_disc
    * cutoffs (actual data values — exact in any engine), bucket
    * assignment row-local against the broadcast 1-row cutoff frame,
    * then one ordinary agg shuffle. This is the scale-correct form: a
    * global ntile() would sort the corpus through one partition to
    * number rows the cutoffs already determine. Buckets can be uneven
    * exactly where values tie across a boundary — the honest semantics
    * of discrete quantiles (every equal value lands in one bucket).
    */
  def equiDepthHistogram(df: org.apache.spark.sql.DataFrame,
      valueCol: String, nBuckets: Int): org.apache.spark.sql.DataFrame = {
    // r16 (guide §2.3/§5): the previous form ran nBuckets−1 separate
    // percentile_disc aggregates — each an ObjectAggregate buffering
    // the ENTIRE value multiset, merged through one final reducer
    // (7 copies of every row at nBuckets = 8; q106 measured 2.4 s at
    // sf0.1 mostly in that stage). percentile_disc(p) is "the smallest
    // value whose cume_dist ≥ p", so every cutoff is derivable from
    // ONE distinct-value frequency table: a map-side-combined
    // groupBy(value) (distinct-sized, not row-sized), a running count
    // over the sorted distinct values, and min(value WHERE
    // cum·n ≥ k·total) per cutoff — exact integer arithmetic, the
    // same value percentile_disc picks (cum/total ≥ k/n ⇔
    // cum·n ≥ k·total). The single-partition window carries only the
    // DISTINCT values (bounded by the value domain), strictly less
    // than the old final reducer's full multiset ×(nBuckets−1).
    val distinctCounts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("cnt"))
    val ranked = distinctCounts
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("v"))))
      .withColumn("total", sum(col("cnt")).over(
        Window.partitionBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    val cutAggs = (1 until nBuckets).map(k =>
      min(when(col("cum") * nBuckets >= col("total") * k, col("v")))
        .as(s"c$k"))
    val cuts = ranked.agg(cutAggs.head, cutAggs.tail: _*)
    val bucket = (1 until nBuckets).map(k =>
      when(col(valueCol) > col(s"c$k"), 1L).otherwise(0L))
      .reduce(_ + _) + 1L
    df.crossJoin(broadcast(cuts))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
  }

  /** Weighted priority sampling (Efraimidis–Spirakis A-Res on a
    * deterministic grid): row priority = −ln(u)/w with u a salted md5
    * fraction — the k SMALLEST priorities form a weighted sample
    * without replacement, heavier rows proportionally likelier. The
    * transcendental ln is snapped IMMEDIATELY to a micro-units integer
    * grid (the q85/q86 float-determinism recipe) and the division by
    * the weight is INTEGER division, so the priority key is a BIGINT
    * both engines agree on bit-exactly; ties break on the id. Shape:
    * row-local key computation + top-k (TakeOrdered — never a global
    * sort). The deterministic-u variant of the classic weighted
    * reservoir: reproducible across engines, runs, and corpus splits.
    */
  def weightedSample(df: org.apache.spark.sql.DataFrame, idCol: String,
      weightCol: String, k: Int,
      salt: String = "wsamp"): org.apache.spark.sql.DataFrame = {
    // (h + 0.5) / 2^32 keeps u strictly inside (0,1): ln(0) never happens
    val u = (conv(substring(md5(concat(lit(s"$salt:"),
        col(idCol).cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("long") + lit(0.5)) / lit(4294967296.0)
    df.withColumn("nl_micro", round(lit(-1000000.0) * log(u)).cast("long"))
      .withColumn("priority",
        expr(s"(nl_micro * 1000) div greatest($weightCol, 1)"))
      .drop("nl_micro")
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** q111: 50 documents weighted by length (n_chars) — the
    * quality/length-weighted corpus subsample every mixture pipeline
    * draws; hash-checked, including the exact priority keys, against
    * the same snapped-ln arithmetic in DuckDB.
    */
  val q111: QueryDef = QueryDef.checked(
    "q111_weighted_sample",
    """WITH keyed AS (
      |  SELECT doc_id, n_chars,
      |    (CAST(ROUND(-1000000.0 * ln(
      |       (('0x' || substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
      |       / 4294967296.0)) AS BIGINT) * 1000)
      |      // greatest(n_chars, 1) AS priority
      |  FROM documents)
      |SELECT doc_id, n_chars, priority FROM keyed
      |ORDER BY priority, doc_id LIMIT 50""".stripMargin) { (s, d) =>
    weightedSample(Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", k = 50)
  }

  /** q106: 8-bucket equi-depth histogram of order prices — per-bucket
    * count and [lo, hi] range, hash-checked against the same
    * cutoff-counting arithmetic in DuckDB.
    */
  val q106: QueryDef = QueryDef.checked(
    "q106_equidepth_histogram",
    """WITH cut AS (
      |  SELECT percentile_disc(0.125) WITHIN GROUP (ORDER BY o_totalprice) AS c1,
      |         percentile_disc(0.25)  WITHIN GROUP (ORDER BY o_totalprice) AS c2,
      |         percentile_disc(0.375) WITHIN GROUP (ORDER BY o_totalprice) AS c3,
      |         percentile_disc(0.5)   WITHIN GROUP (ORDER BY o_totalprice) AS c4,
      |         percentile_disc(0.625) WITHIN GROUP (ORDER BY o_totalprice) AS c5,
      |         percentile_disc(0.75)  WITHIN GROUP (ORDER BY o_totalprice) AS c6,
      |         percentile_disc(0.875) WITHIN GROUP (ORDER BY o_totalprice) AS c7
      |  FROM orders)
      |SELECT 1 + (o_totalprice > c1)::BIGINT + (o_totalprice > c2)::BIGINT
      |         + (o_totalprice > c3)::BIGINT + (o_totalprice > c4)::BIGINT
      |         + (o_totalprice > c5)::BIGINT + (o_totalprice > c6)::BIGINT
      |         + (o_totalprice > c7)::BIGINT AS bucket,
      |  COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |FROM orders, cut GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    equiDepthHistogram(Tables.orders(s, d), "o_totalprice", nBuckets = 8)
      .orderBy(col("bucket"))
  }

  /** Rank-trimmed robust group statistics — the outlier-resistant
    * profile a corpus report needs when a handful of degenerate rows
    * (empty scrapes, concatenation blowups) would drag a plain mean:
    * within each group, rows ranked by (value, id) drop the bottom and
    * top ceil(α·n) ranks (keep cut < rn ≤ n − cut with
    * cut = (n·num + den − 1) div den, the integer ceiling) and the
    * kept slice reports exact integer count/sum/bounds. Everything is
    * RANK arithmetic on integers, so unlike percentile functions —
    * whose interpolation conventions differ engine to engine — the
    * trimmed set is identical everywhere by construction.
    */
  def trimmedGroupStats(df: DataFrame, group: String, value: String,
      id: String, trimNum: Long = 5L, trimDen: Long = 100L): DataFrame = {
    val w = Window.partitionBy(col(group))
      .orderBy(col(value), col(id))
    df.select(col(group), col(value), col(id))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col(group))))
      .withColumn("cut",
        expr(s"CAST((n * $trimNum + $trimDen - 1) div $trimDen AS LONG)"))
      .filter(col("rn") > col("cut") && col("rn") <= col("n") - col("cut"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_kept"),
        sum(col(value)).as("sum_kept"),
        min(col(value)).as("lo_kept"),
        max(col(value)).as("hi_kept"))
  }

  /** Per-group rank normalization — the feature-preprocessing transform
    * (rank-gauss / quantile-normalization family) that maps a skewed
    * column to a uniform grid robust to outliers: within each group,
    * value → rank·10⁶ div (n+1) ppm (the (0, 1) open-interval rank
    * transform, on integers so every engine lands on the same grid).
    * Ties break by id, making the map a bijection — the property
    * downstream inverse-CDF transforms need. One keyed window, no
    * joins.
    */
  def rankNormalize(df: DataFrame, group: String, value: String,
      id: String): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(col(value), col(id))
    df.select(col(group), col(value), col(id))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col(group))))
      .select(col(group), col(id), col(value),
        expr("CAST(rn * 1000000 div (n + 1) AS LONG)").as("rank_ppm"))
  }

  /** q170: rank-normalized n_chars per language over documents,
    * hash-checked — every (doc, ppm) pair — against the identical
    * integer rank arithmetic in DuckDB.
    */
  val q170: QueryDef = QueryDef.checked(
    "q170_rank_normalize",
    """WITH r AS (
      |  SELECT lang, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT lang, doc_id, n_chars,
      |  rn * 1000000 // (n + 1) AS rank_ppm
      |FROM r ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
    rankNormalize(Tables.documents(s, d), "lang", "n_chars", "doc_id")
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Median-absolute-deviation outlier flags — the robust z-score
    * (median/MAD in place of mean/stddev, immune to the outliers it
    * hunts), entirely on integer RANK arithmetic: median = the value at
    * rank (n+1) div 2 (the lower median — deterministic, no averaging
    * convention), MAD = lower median of |x − med|, flag when
    * |x − med| > k·MAD. Two windowed rank picks and a broadcast-sized
    * per-group stats join; never a float.
    */
  def madOutliers(df: DataFrame, group: String, value: String, id: String,
      k: Long = 3L): DataFrame = {
    def lowerMedian(in: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy(col(group)).orderBy(col(v), col(id))
      in.withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col(group))))
        .filter(expr("rn = (n + 1) div 2"))
        .select(col(group), col(v).as(out))
    }
    val base = df.select(col(group), col(value), col(id))
    val med = lowerMedian(base, value, "med")
    val dev = base.join(broadcast(med), group)
      .withColumn("adev", abs(col(value) - col("med")))
    val mad = lowerMedian(dev, "adev", "mad")
    dev.join(broadcast(mad), group)
      .select(col(group), col(id), col(value), col("med"), col("mad"),
        (col("adev") > lit(k) * col("mad")).as("is_outlier"))
  }

  /** q171: MAD outlier flags on n_chars per language — median, MAD and
    * every flag hash-checked against the identical rank picks in
    * DuckDB.
    */
  val q171: QueryDef = QueryDef.checked(
    "q171_mad_outliers",
    """WITH r AS (
      |  SELECT lang, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents),
      |med AS (SELECT lang, n_chars AS med FROM r WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT d.lang, d.doc_id, d.n_chars, m.med,
      |    ABS(d.n_chars - m.med) AS adev
      |  FROM documents d JOIN med m USING (lang)),
      |dr AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY adev, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM dev),
      |mad AS (SELECT lang, adev AS mad FROM dr WHERE rn = (n + 1) // 2)
      |SELECT d.lang, d.doc_id, d.n_chars, d.med, m.mad,
      |  d.adev > 3 * m.mad AS is_outlier
      |FROM dev d JOIN mad m USING (lang)
      |ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
    madOutliers(Tables.documents(s, d), "lang", "n_chars", "doc_id")
      .orderBy(col("lang"), col("doc_id"))
  }

  /** q164: 5 %-rank-trimmed per-language n_chars profile of the
    * documents table — kept-count, exact kept-sum and kept-bounds
    * hash-checked against the identical rank arithmetic in DuckDB.
    */
  val q164: QueryDef = QueryDef.checked(
    "q164_trimmed_stats",
    """WITH r AS (
      |  SELECT lang, n_chars, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents),
      |kept AS (
      |  SELECT * FROM r
      |  WHERE rn > (n * 5 + 99) // 100 AND rn <= n - (n * 5 + 99) // 100)
      |SELECT lang, COUNT(*) AS n_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_kept,
      |  MIN(n_chars) AS lo_kept, MAX(n_chars) AS hi_kept
      |FROM kept GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    trimmedGroupStats(Tables.documents(s, d), "lang", "n_chars", "doc_id")
      .orderBy(col("lang"))
  }

  /** q192: per-group winsorization — the robust-scaling companion to
    * q164's trimming: instead of DROPPING tail rows, values are CLAMPED
    * to the group's discrete [p05, p95] (actual data values via
    * percentile_disc — integer cents, so clamp membership is exact in
    * both engines; the interpolating percentile would hang it on a float
    * ulp). Output per l_returnflag: the two cut values, how many rows
    * clamped on each side, and the exact winsorized sum.
    *
    * Scale: percentile_disc is one map-side-combined aggregation (a
    * counts-map over distinct cent values, bounded by value cardinality);
    * the 3-row cuts frame broadcasts into the clamp projection; the
    * final rollup is a hash agg on the 3-value flag key. The fact table
    * is scanned twice (cuts, clamp) — at 100 TB you'd persist the cents
    * projection or fuse with an existing profile pass (q92).
    */
  val q192: QueryDef = QueryDef.checked(
    "q192_winsorize",
    """WITH c AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM lineitem),
      |cut AS (
      |  SELECT flag,
      |    percentile_disc(0.05) WITHIN GROUP (ORDER BY cents) AS p05,
      |    percentile_disc(0.95) WITHIN GROUP (ORDER BY cents) AS p95
      |  FROM c GROUP BY flag)
      |SELECT c.flag, cut.p05, cut.p95,
      |  CAST(SUM(CASE WHEN cents < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(SUM(CASE WHEN cents > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  CAST(SUM(LEAST(GREATEST(cents, p05), p95)) AS BIGINT) AS sum_winsorized
      |FROM c JOIN cut ON c.flag = cut.flag
      |GROUP BY c.flag, cut.p05, cut.p95 ORDER BY c.flag""".stripMargin) { (s, d) =>
    val cents = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"))
    // r16 (the q106 treatment, grouped): two percentile_disc
    // aggregates each buffered the group's full value multiset through
    // the final reducer (2× every lineitem row in 3 tasks; q192
    // profiled 2.1 s in that stage at sf0.1). percentile_disc(p) =
    // smallest value with cume_dist ≥ p, so both cuts come off ONE
    // distinct-value frequency table per flag: map-side-combined
    // groupBy(flag, cents), a running count over the per-flag sorted
    // distinct values, and min(value WHERE cum·100 ≥ p·total) — exact
    // integer arithmetic picking the identical data value (and already
    // BIGINT, where percentile_disc surfaced DOUBLE and needed the
    // lossless cast back).
    val distinctCents = cents.filter(col("cents").isNotNull)
      .groupBy(col("flag"), col("cents")).agg(count(lit(1)).as("cnt"))
    val rankedCents = distinctCents
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("flag")).orderBy(col("cents"))))
      .withColumn("total", sum(col("cnt")).over(
        Window.partitionBy(col("flag"))))
    val cut = rankedCents.groupBy(col("flag")).agg(
      min(when(col("cum") * 100 >= col("total") * 5, col("cents"))).as("p05"),
      min(when(col("cum") * 100 >= col("total") * 95, col("cents"))).as("p95"))
    cents.join(broadcast(cut), Seq("flag"))
      .groupBy(col("flag"), col("p05"), col("p95"))
      .agg(
        sum(when(col("cents") < col("p05"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("cents") > col("p95"), 1L).otherwise(0L)).as("n_high"),
        sum(least(greatest(col("cents"), col("p05")), col("p95")))
          .as("sum_winsorized"))
      .orderBy(col("flag"))
  }

  /** q215: proportional stratified allocation — draw a fixed-size sample
    * (target 100 docs) whose stratum mix mirrors the corpus: each source
    * gets floor(target·n_h/N) slots, filled by the smallest Knuth-hash
    * ranks within the stratum (h = doc_id·2654435761 mod 2³², a
    * deterministic uniform-ish order both engines compute exactly in
    * 64-bit integers — q53's md5 discipline without the string detour).
    * Unlike q53's cap-per-stratum, the allocation here is GLOBAL: slots
    * scale with stratum mass, the estimator stays self-weighting. Plan:
    * one bounded count agg (broadcast back) + one (source) window top-k
    * — no global sort, no driver loop; at 100 TB the rank window is the
    * only shuffle and it keys on the stratum.
    */
  val q215: QueryDef = QueryDef.checked(
    "q215_stratified_alloc",
    """WITH c AS (SELECT source, COUNT(*) AS ch FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(ch) AS BIGINT) AS n FROM c),
      |alloc AS (
      |  SELECT source, ch, (100 * ch) // (SELECT n FROM tot) AS nh FROM c),
      |r AS (
      |  SELECT doc_id, source, (doc_id * 2654435761) % 4294967296 AS h,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rk
      |  FROM documents)
      |SELECT r.doc_id, r.source, r.h, r.rk, a.nh
      |FROM r JOIN alloc a USING (source)
      |WHERE r.rk <= a.nh ORDER BY r.source, r.rk""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("ch"))
    val tot = cnt.agg(sum(col("ch")).as("n"))
    val alloc = cnt.crossJoin(broadcast(tot))
      .select(col("source"), col("ch"),
        expr("(100 * ch) div n").as("nh"))
    val h = expr("(doc_id * 2654435761L) % 4294967296L")
    val rk = row_number().over(Window.partitionBy(col("source"))
      .orderBy(h, col("doc_id")))
    docs.select(col("doc_id"), col("source"), h.as("h"), rk.as("rk"))
      .join(broadcast(alloc.select(col("source"), col("nh"))), Seq("source"))
      .filter(col("rk") <= col("nh"))
      .select(col("doc_id"), col("source"), col("h"), col("rk"), col("nh"))
      .orderBy(col("source"), col("rk"))
  }

  /** q225: quantile normalization — map every stratum's value
    * distribution onto the GLOBAL one (the cross-source length
    * harmonization trick from expression-array statistics): a doc at
    * within-source rank rk of n_s maps to the global value at index
    * ⌊(rk−1)·(N−1)/(n_s−1)⌋ — pure integer arithmetic, so the mapped
    * value is an actual data point and both engines agree bit-for-bit.
    * Shape: one source-keyed rank window + one global numbering + an
    * equi-join on the computed index. The global numbering was the
    * catalog's LAST single-partition sort on a serving path (VERDICT
    * r12 "missing" item 3); as of round 13 it runs through the
    * q241/q262/q268 two-phase bucket/offset machinery — value div-grid
    * buckets (equal values share a bucket, so the (n_chars, doc_id)
    * tie order stays bucket-local), bucket counts prefix-summed over
    * the B-row frame (the only global window), within-bucket
    * row_number + offset. The oracle still runs the plain global
    * window the two-phase form must reproduce rank-for-rank.
    */
  val q225: QueryDef = QueryDef.checked(
    "q225_quantile_norm",
    """WITH g AS (
      |  SELECT doc_id, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
      |      AS rk,
      |    COUNT(*) OVER (PARTITION BY source) AS n_s
      |  FROM documents),
      |gl AS (
      |  SELECT n_chars AS gv,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM documents)
      |SELECT g.doc_id, g.source, g.n_chars, gl.gv AS norm_chars
      |FROM g JOIN gl
      |  ON gl.rn = ((g.rk - 1) * (gl.n - 1))
      |    // GREATEST(g.n_s - 1, 1) + 1
      |ORDER BY g.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val g = docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy(col("source"))))
    // two-phase global numbering (never a single-partition window):
    // bucket on the VALUE alone so ties collide into one bucket
    val st = docs
      .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"),
        count(lit(1)).as("n")).head()
    if (st.isNullAt(0)) {
      // empty source: mirror selectByScoreBudget's guard — the old
      // global-window form returned an empty frame here, not an NPE
      docs.select(col("doc_id"), col("source"), col("n_chars"),
        col("n_chars").as("norm_chars")).limit(0)
    } else {
    val (mn, mx, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val buckets = 64
    val width = (mx - mn) / buckets + 1L
    val b = docs.select(col("n_chars").as("gv"), col("doc_id"))
      .withColumn("bkt", expr(s"(gv - ${mn}L) div ${width}L"))
    val offs = b.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val glob = b.join(broadcast(offs), Seq("bkt"))
      .select(col("gv"),
        (col("off") + row_number().over(Window.partitionBy(col("bkt"))
          .orderBy(col("gv"), col("doc_id")))).as("rn"))
    g.join(glob,
        col("rn") === expr(s"((rk - 1) * (${n}L - 1)) div greatest(n_s - 1, 1) + 1"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("gv").as("norm_chars"))
      .orderBy(col("doc_id"))
    }
  }

  /** q226: weighted median — the robust-stats cut q164/q171/q192 leave
    * open: the quantity-weighted median price per return flag (each
    * lineitem counts `l_quantity` times — "median unit price", not
    * median line price). Lower weighted median by definition: the first
    * value (in (cents, orderkey, linenumber) total order — unique, so
    * the running sum is engine-independent) whose cumulative weight
    * reaches half the total. One keyed window + one agg; all integers.
    */
  val q226: QueryDef = QueryDef.checked(
    "q226_weighted_median",
    """WITH t AS (
      |  SELECT l_returnflag AS rf,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents,
      |    CAST(l_quantity AS BIGINT) AS w, l_orderkey AS ok,
      |    l_linenumber AS ln
      |  FROM lineitem),
      |c AS (
      |  SELECT rf, cents, w,
      |    SUM(w) OVER (PARTITION BY rf ORDER BY cents, ok, ln
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(w) OVER (PARTITION BY rf) AS wt
      |  FROM t)
      |SELECT rf, CAST(MAX(wt) AS BIGINT) AS w_total,
      |  MIN(CASE WHEN 2 * cw >= wt THEN cents END) AS median_cents
      |FROM c GROUP BY rf ORDER BY rf""".stripMargin) { (s, d) =>
    val t = Tables.lineitem(s, d).select(
      col("l_returnflag").as("rf"),
      expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("cents"),
      col("l_quantity").cast("long").as("w"),
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    val run = Window.partitionBy(col("rf"))
      .orderBy(col("cents"), col("ok"), col("ln"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cw", sum(col("w")).over(run))
      .withColumn("wt", sum(col("w")).over(Window.partitionBy(col("rf"))))
      .groupBy(col("rf"))
      .agg(max(col("wt")).as("w_total"),
        min(when(lit(2) * col("cw") >= col("wt"), col("cents")))
          .as("median_cents"))
      .orderBy(col("rf"))
  }

  /** q231: Gini / Lorenz revenue concentration per market segment — the
    * inequality readout behind "do 10 % of customers carry the
    * segment?": per-customer spend (exact cents) ranked ascending
    * within segment, Gini from the rank identity
    * G = 2·Σ rk·x / (n·S) − (n+1)/n emitted as exact-integer ppm
    * (num = 2e6·Σrk·x − 1e6·(n+1)·S, den = n·S, integer `div` — both
    * engines truncate identically on positives), plus the top-decile
    * Lorenz point (spend share of the highest-ranked ⌈n/10⌉ customers,
    * ppm). Overflow discipline is q196's: Σrk·x exceeds BIGINT at fact
    * scale (rk up to n, cents up to 10⁹ → 10²² territory), so it
    * accumulates as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB SUM
    * default) and only the final ppm — ≤ 10⁶ — lands in BIGINT.
    * Shape: one orders agg (custkey), one segment-keyed rank window,
    * one segment agg; ties broken by custkey so the rank sum is
    * engine-independent even though Gini itself is tie-invariant.
    */
  val q231: QueryDef = QueryDef.checked(
    "q231_gini_concentration",
    """WITH spend AS (
      |  SELECT c.c_mktsegment AS segment, o.o_custkey AS ck,
      |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |rk AS (
      |  SELECT segment, cents,
      |    ROW_NUMBER() OVER (PARTITION BY segment ORDER BY cents, ck) AS r,
      |    COUNT(*) OVER (PARTITION BY segment) AS n
      |  FROM spend)
      |SELECT segment, CAST(MAX(n) AS BIGINT) AS n_cust,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST((2000000 * SUM(CAST(r AS HUGEINT) * cents)
      |      - 1000000 * (MAX(n) + 1) * SUM(cents))
      |    // (MAX(n) * SUM(cents)) AS BIGINT) AS gini_ppm,
      |  CAST(1000000 * SUM(CASE WHEN r > n - (n + 9) // 10
      |      THEN cents ELSE 0 END) // SUM(cents) AS BIGINT)
      |    AS top_decile_ppm
      |FROM rk GROUP BY segment ORDER BY segment""".stripMargin) { (s, d) =>
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val spend = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_custkey").as("ck"))
      .agg(sum(expr(
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .cast("long").as("cents"))
    val w = Window.partitionBy(col("segment"))
    val rk = spend
      .withColumn("r", row_number().over(w.orderBy(col("cents"), col("ck"))))
      .withColumn("n", count(lit(1)).over(w))
    // MAX(n)/window-count agree by construction; the CASE needs n per
    // row, so the top-decile cut is computed in the window pass.
    rk.withColumn("top_cut", expr("n - (n + 9) div 10"))
      .groupBy(col("segment"))
      .agg(max(col("n")).as("n_cust_raw"),
        sum(col("cents").cast(dec38)).as("s"),
        // widen BEFORE the product: r·cents wraps in 64-bit at fact
        // scale (rk up to n, cents to 10⁹), so the per-row multiply —
        // not just the accumulator — must run on the decimal grid
        sum(col("r").cast(dec38) * col("cents")).as("srx"),
        sum(when(col("r") > col("top_cut"), col("cents")).otherwise(0L)
          .cast(dec38)).as("top_cents"))
      .select(col("segment"),
        col("n_cust_raw").cast("long").as("n_cust"),
        col("s").cast("long").as("total_cents"),
        expr("""CAST((2000000 * srx - 1000000 * (n_cust_raw + 1) * s)
                div (n_cust_raw * s) AS BIGINT)""").as("gini_ppm"),
        expr("CAST(1000000 * top_cents div s AS BIGINT)")
          .as("top_decile_ppm"))
      .orderBy(col("segment"))
  }

  /** q243: FIT/TRANSFORM feature binning — the train/serve discipline
    * every feature pipeline owes its model: bin CUTPOINTS are learned
    * on the TRAIN split only (percentile_disc quartiles of n_chars —
    * actual data points, BIGINT-cast for the double-surface trap) and
    * APPLIED to the held-out split as a broadcast + row-local compare
    * (the q106/q209 discipline — never a global ntile sort, and never
    * re-fitting on serve data, which would leak the test distribution
    * into the feature). Split = doc_id % 10 (8/2), deterministic in
    * both engines. Output: per-bin profile of the TEST split under
    * TRAIN-learned boundaries — exactly what a training/serving skew
    * monitor compares.
    */
  val q243: QueryDef = QueryDef.checked(
    "q243_fit_transform_binning",
    """WITH train AS (
      |  SELECT n_chars FROM documents WHERE doc_id % 10 < 8),
      |test AS (
      |  SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 >= 8),
      |cut AS (
      |  SELECT
      |    percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS c1,
      |    percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars) AS c2,
      |    percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS c3
      |  FROM train)
      |SELECT CAST(1 + CAST(n_chars > c1 AS INT) + CAST(n_chars > c2 AS INT)
      |    + CAST(n_chars > c3 AS INT) AS INT) AS bin,
      |  COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
      |  MAX(n_chars) AS max_chars
      |FROM test, cut
      |GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val train = docs.filter(col("doc_id") % 10 < 8)
    val test = docs.filter(col("doc_id") % 10 >= 8)
    val cut = train.agg(
      expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("c1"),
      expr("CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("c2"),
      expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)").as("c3"))
    test.crossJoin(broadcast(cut))
      .withColumn("bin",
        (lit(1) + (col("n_chars") > col("c1")).cast("int")
          + (col("n_chars") > col("c2")).cast("int")
          + (col("n_chars") > col("c3")).cast("int")).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("bin"))
  }

  /** q272: within-source rank CALIBRATION of a quality score — the
    * percentile-normalization step run before any cross-source quality
    * threshold: raw scores are not comparable across sources (different
    * length/style distributions), so each doc gets its percentile rank
    * WITHIN its source, snapped to ppm integers ((rank−1)·10⁶ div
    * (n−1), rank ties broken by doc_id so both engines agree). One
    * source-keyed window — the calibration shuffles each stratum once
    * and nothing else. Token count stands in for the score; any scorer
    * frame drops in.
    */
  val q272: QueryDef = QueryDef.checked(
    "q272_quality_calibration",
    """WITH q AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS score
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, score,
      |    rank() OVER (PARTITION BY source ORDER BY score, doc_id) AS rnk,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM q)
      |SELECT doc_id, source, score,
      |  CAST((rnk - 1) * 1000000 // (n - 1) AS BIGINT) AS pct_ppm
      |FROM r WHERE n > 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("source"))
    val q = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("score"))
    q.withColumn("rnk",
        rank().over(w.orderBy(col("score"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("n") > 1)
      .select(col("doc_id"), col("source"), col("score"),
        expr("((rnk - 1) * 1000000L) div (n - 1)").as("pct_ppm"))
      .orderBy(col("doc_id"))
  }
}
