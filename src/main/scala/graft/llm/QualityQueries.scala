package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Query, Tables}
import graft.text.TextOps

/** Corpus-quality and data-selection operators — the filtering stage a
  * training-data pipeline runs between ingestion and tokenization
  * (north-star widening; the reference — enterprise_warp — stops at
  * analysis outputs and has no corpus-curation surface).
  *
  *  - gq1: rule-based quality gating (the Gopher-rules shape: per-document
  *    thresholds on word count, mean word length, stopword support, short-
  *    word and symbol fractions — Rae et al. 2021, "Scaling Language
  *    Models", App. A; same rule family as C4's heuristics).
  *  - pii1: pattern redaction/profiling over a semi-structured column (the
  *    scrub pass every pipeline runs before text ships to training).
  *  - dsir1: data selection by importance resampling (the DSIR shape, Xie
  *    et al. 2023: importance = target-vs-raw n-gram likelihood ratio,
  *    sampled via Gumbel top-k).
  *
  * Scale design: every per-document statistic is one map-side pass over the
  * token stream plus one doc_id-keyed aggregation; model tables
  * (vocabulary counts) are dictionary-sized broadcasts; the only global
  * selection (dsir1's top-k) is a TakeOrdered, never a single-partition
  * window. Determinism discipline as t8/t10/t11: exact integer counts into
  * identically-ordered double arithmetic, per-doc sums as LEFT FOLDS over
  * tok-sorted lists, round(...,6) only at the output edge.
  */
object QualityQueries extends graft.core.QueryModule {

  private[graft] val Stops =
    Seq("the", "data", "query", "table", "scan", "join", "group", "order", "filter", "row")
  private[llm] def stopsSqlList = Stops.map(s => s"'$s'").mkString(", ")

  // ---------------------------------------------------------------- gq1
  // Rule-based quality gate. Each rule is a checkable boolean; `pass` is
  // their conjunction. Thresholds are set to discriminate on this corpus
  // (word counts span 10..99, mean word length ~4.2..4.8): a gate where
  // every rule is vacuously true verifies nothing.
  /** One tokenize-and-aggregate pass producing the UNION of the per-doc
    * statistics every quality operator needs (gq1 rules, lr1 features,
    * cal1's joint view). Consumers each select a subset and Catalyst's
    * column pruning drops the unused aggregate expressions from their
    * plans (gq1 keeps no countDistinct, lr1 keeps no n_short/n_sym — see
    * PlanAuditSpec), so sharing costs nothing — while cal1, which needs
    * BOTH feature sets, gets them from a single corpus pass with no
    * second tokenize and no self-join. */
  private[graft] def docStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextOps.docTokens(Tables.documents(s, dir), $"doc_id", $"text",
        keep = Seq($"source"))
      .groupBy($"doc_id", $"source")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length($"tok").cast("long")).as("chars"),
        sum(when($"tok".isin(Stops: _*), 1L).otherwise(0L)).as("n_stop"),
        sum(when(length($"tok") <= 2, 1L).otherwise(0L)).as("n_short"),
        sum(when($"tok".rlike("[^a-z]"), 1L).otherwise(0L)).as("n_sym"),
        countDistinct($"tok").as("n_types"))
  }

  /** Full-corpus gq1 rule table (no display filter) — the per-doc gate
    * cal1 calibrates the lr1 classifier against. */
  private[graft] def gqRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docStats(s, dir)
      .withColumn("mean_wl", $"chars".cast("double") / $"n_words".cast("double"))
      .withColumn("short_frac", $"n_short".cast("double") / $"n_words".cast("double"))
      .withColumn("r_wordcount", $"n_words".between(30L, 80L))
      .withColumn("r_meanlen", $"mean_wl".between(4.3, 4.7))
      .withColumn("r_stopwords", $"n_stop" >= 12L)
      .withColumn("r_shortwords", $"short_frac" <= 0.05)
      .withColumn("r_symbols", $"n_sym" === 0L)
      .withColumn("pass", $"r_wordcount" && $"r_meanlen" && $"r_stopwords" &&
        $"r_shortwords" && $"r_symbols")
  }

  def gq1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gqRules(s, dir)
      .filter($"doc_id" < 300)
      .select($"doc_id", $"n_words", round($"mean_wl", 6).as("mean_wl"),
        $"n_stop", round($"short_frac", 6).as("short_frac"),
        $"r_wordcount", $"r_meanlen", $"r_stopwords", $"r_shortwords",
        $"r_symbols", $"pass")
      .orderBy($"doc_id")
  }

  val gq1Sql: String =
    s"""WITH pt AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(length(tok)) AS BIGINT) AS chars,
       |    CAST(SUM(CASE WHEN tok IN ($stopsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       |    CAST(SUM(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       |    CAST(SUM(CASE WHEN regexp_matches(tok, '[^a-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_sym
       |  FROM pt GROUP BY doc_id),
       |r AS (
       |  SELECT doc_id, n_words, n_stop,
       |    CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_wl,
       |    CAST(n_short AS DOUBLE) / CAST(n_words AS DOUBLE) AS short_frac,
       |    n_words BETWEEN 30 AND 80 AS r_wordcount,
       |    CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE) BETWEEN 4.3 AND 4.7 AS r_meanlen,
       |    n_stop >= 12 AS r_stopwords,
       |    CAST(n_short AS DOUBLE) / CAST(n_words AS DOUBLE) <= 0.05 AS r_shortwords,
       |    n_sym = 0 AS r_symbols
       |  FROM m)
       |SELECT doc_id, n_words, round(mean_wl, 6) AS mean_wl, n_stop,
       |  round(short_frac, 6) AS short_frac,
       |  r_wordcount, r_meanlen, r_stopwords, r_shortwords, r_symbols,
       |  (r_wordcount AND r_meanlen AND r_stopwords AND r_shortwords AND r_symbols) AS pass
       |FROM r WHERE doc_id < 300 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- pii1
  // Pattern redaction + profile over the semi-structured `props` column:
  // digit runs are the PII stand-in (the corpus carries no emails/phones —
  // the machinery, regexp scan/replace/extract inside codegen, is what the
  // operator verifies). Per event type: how many runs were found, how many
  // characters a redaction would remove, how many DISTINCT redacted shapes
  // remain (a cardinality collapse check — scrubbing `{"k": 69}` and
  // `{"k": 89}` to the same `{"k": <NUM>}` shape), and the exact integer
  // profile of the values that were scrubbed (what a reversibility audit
  // stores out-of-band).
  def pii1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type", $"props",
        regexp_replace($"props", "[0-9]+", "<NUM>").as("redacted"),
        size(expr("regexp_extract_all(props, '[0-9]+', 0)")).cast("long").as("n_runs"),
        (length($"props") - length(regexp_replace($"props", "[0-9]+", "")))
          .cast("long").as("n_digit_chars"),
        regexp_extract($"props", "[0-9]+", 0).cast("long").as("v"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"n_runs").as("n_runs"),
        sum($"n_digit_chars").as("n_digit_chars"),
        countDistinct($"redacted").as("n_shapes"),
        min($"v").as("v_min"), max($"v").as("v_max"), sum($"v").as("v_sum"))
      .orderBy($"event_type")
  }

  val pii1Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_runs,
      |  CAST(SUM(length(props) - length(regexp_replace(props, '[0-9]+', '', 'g'))) AS BIGINT)
      |    AS n_digit_chars,
      |  COUNT(DISTINCT regexp_replace(props, '[0-9]+', '<NUM>', 'g')) AS n_shapes,
      |  min(CAST(NULLIF(regexp_extract(props, '[0-9]+'), '') AS BIGINT)) AS v_min,
      |  max(CAST(NULLIF(regexp_extract(props, '[0-9]+'), '') AS BIGINT)) AS v_max,
      |  CAST(SUM(CAST(NULLIF(regexp_extract(props, '[0-9]+'), '') AS BIGINT)) AS BIGINT) AS v_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- dsir1
  // Importance resampling: score every document by how much more likely its
  // tokens are under the TARGET unigram model (lang='en' docs) than under
  // the RAW corpus model, both add-1 smoothed over the shared vocabulary;
  // select the global top-16 by Gumbel-perturbed TEMPERED log-weight
  // (Gumbel top-k ≡ sampling without replacement ∝ exp(λ·lw); the
  // perturbation uses the deterministic Knuth-hash uniform, wsm1's
  // discipline, so runs/retries/engines agree). λ = 1/T = 8 is the
  // standard sharpening knob: this corpus's languages share one ~31-word
  // vocabulary, so untempered log-ratios (±1) would drown in Gumbel noise
  // (spread ~6.7) and the "selection" would verify only the hash.
  //
  // Scale: both model tables are vocabulary-sized broadcasts; the document
  // side is one doc_id-keyed aggregation; the final selection is a
  // TakeOrdered over per-partition top-16s. Determinism: the per-token
  // term is c · ln((ct·Dr)/(cr·Dt)) with every product left-associated the
  // same way on both engines, folded in tok-sorted order (t8's discipline).
  /** Per-document (doc_id, n_tokens, lw) under the target-vs-raw model —
    * shared by [[dsir1]] and the spec's corpus-mean baseline. The raw,
    * target and per-doc counts are three aggregations of the token
    * stream; deriving the raw and target models from the per-doc
    * counts (one shared exchange) was measured a loss: OPTIMIZATION_r11.md
    * §6, sf1 local[32] 0.802 → 1.122 s. */
  private[llm] def dsirScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pt = TextOps.docTokens(Tables.documents(s, dir), $"doc_id", $"text",
      keep = Seq($"lang"))
    val rawC = pt.groupBy($"tok").agg(count(lit(1)).as("cr0"))
    val tgtC = pt.filter($"lang" === "en").groupBy($"tok").agg(count(lit(1)).as("ct0"))
    // shared vocab = raw vocab (target tokens are a subset of raw's); add-1
    // smoothing keeps unseen-in-target tokens finite
    val model = rawC.join(tgtC, Seq("tok"), "left")
      .select($"tok", ($"cr0" + 1L).as("cr"), (coalesce($"ct0", lit(0L)) + 1L).as("ct"))
    val totals = model.agg(sum($"cr").as("dr"), sum($"ct").as("dt"))
    val docTermCounts = pt.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val scored = docTermCounts
      .join(broadcast(model), "tok")
      .transform(graft.core.ScalarSub.withScalars(_, totals))
      .withColumn("term", $"c".cast("double") *
        log(($"ct".cast("double") * $"dr".cast("double")) /
            ($"cr".cast("double") * $"dt".cast("double"))))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sort_array(collect_list(struct($"tok", $"term"))).as("ts"))
      .withColumn("lw", aggregate($"ts", lit(0.0), (acc, x) => acc + x("term")))
      .select($"doc_id", $"n_tokens", $"lw")
    scored
  }

  /** Corpus mean log-weight (spec baseline). */
  private[llm] def dsir1Stats(s: SparkSession, dir: String): Double =
    dsirScored(s, dir).agg(avg(col("lw"))).head().getDouble(0)

  def dsir1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = (graft.operators.GlobalRank.knuthHash($"doc_id") + 1)
      .cast("double") / 4294967297.0
    dsirScored(s, dir)
      .withColumn("key", lit(8.0) * $"lw" - log(-log(u)))
      .orderBy($"key".desc, $"doc_id")
      .limit(16)
      .select($"doc_id", $"n_tokens", round($"lw", 6).as("log_weight"),
        round($"key", 6).as("gumbel_key"))
  }

  val dsir1Sql: String =
    """WITH pt AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |rawc AS (SELECT tok, COUNT(*) + 1 AS cr FROM pt GROUP BY tok),
      |tgtc AS (SELECT tok, COUNT(*) AS ct0 FROM pt WHERE lang = 'en' GROUP BY tok),
      |model AS (SELECT r.tok, r.cr, COALESCE(t.ct0, 0) + 1 AS ct
      |          FROM rawc r LEFT JOIN tgtc t ON r.tok = t.tok),
      |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS dr, CAST(SUM(ct) AS BIGINT) AS dt FROM model),
      |dc AS (SELECT p.doc_id, p.tok, p.c,
      |         CAST(p.c AS DOUBLE) *
      |           ln((CAST(m.ct AS DOUBLE) * CAST(tot.dr AS DOUBLE)) /
      |              (CAST(m.cr AS DOUBLE) * CAST(tot.dt AS DOUBLE))) AS term
      |       FROM (SELECT doc_id, tok, COUNT(*) AS c FROM pt GROUP BY 1, 2) p
      |       JOIN model m ON p.tok = m.tok CROSS JOIN tot),
      |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |          list_reduce(list_transform(
      |            list_sort(list(struct_pack(tok := tok, term := term))),
      |            x -> x.term), (a, b) -> a + b) AS lw
      |        FROM dc GROUP BY doc_id),
      |keyed AS (SELECT doc_id, n_tokens, lw,
      |            8.0 * lw - ln(-ln(CAST((doc_id * 2654435761) % 4294967296 + 1 AS DOUBLE)
      |                        / 4294967297.0)) AS key
      |          FROM agg)
      |SELECT doc_id, n_tokens, round(lw, 6) AS log_weight, round(key, 6) AS gumbel_key
      |FROM keyed ORDER BY key DESC, doc_id LIMIT 16""".stripMargin

  // ---------------------------------------------------------------- ld1
  // Segment-level exact dedup (the C4 / RefinedWeb "line dedup" pass —
  // Raffel et al. 2020 §2.2 drop repeated 3-sentence spans; RefinedWeb
  // drops repeated lines). This corpus has no newlines, so the "line" is
  // the aligned non-overlapping 10-token segment — same operator shape:
  // segment every document, count each exact segment across the CORPUS,
  // and report per document how much of it is corpus-duplicated text.
  //
  // Scale: segmentation is a pure array expression (no window, no join);
  // the only shuffle is the segment-hash groupBy (map-side combined) and
  // the doc_id re-aggregation. At 100 TB the segment-count table is the
  // big side — it stays a shuffle equijoin on the segment key, never a
  // broadcast. Counts are exact integers end to end.
  def ld1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val segs = Tables.documents(s, dir)
      .select($"doc_id", expr("filter(split(text, ' '), x -> x != '')").as("toks"))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("nseg", ceil(size($"toks").cast("double") / 10.0).cast("int"))
      // nseg = 0 (zero-token doc) must yield NO segments: bare
      // sequence(0, nseg - 1) auto-steps DOWN to [0, -1] there, which
      // would emit two phantom empty segments where the oracle's
      // range(0, 0) emits none — the slice-to-nseg guard makes the empty
      // case an empty array while leaving nseg > 0 untouched
      .select($"doc_id", $"n_tokens", explode(expr(
        """transform(slice(sequence(0, greatest(nseg - 1, 0)), 1, nseg),
          |  i -> struct(array_join(slice(toks, i*10 + 1, 10), ' ') AS seg,
          |              size(slice(toks, i*10 + 1, 10)) AS sl))""".stripMargin)).as("s"))
      .select($"doc_id", $"n_tokens", $"s.seg".as("seg"), $"s.sl".cast("long").as("sl"))
    val counts = segs.groupBy($"seg").agg(count(lit(1)).as("cnt"))
    segs.join(counts, "seg")
      .groupBy($"doc_id")
      .agg(first($"n_tokens").as("n_tokens"),
        count(lit(1)).as("n_segments"),
        sum(when($"cnt" >= 2L, 1L).otherwise(0L)).as("n_dup_segments"),
        sum(when($"cnt" >= 2L, $"sl").otherwise(0L)).as("dup_tokens"))
      .withColumn("keep_frac",
        round(lit(1.0) - $"dup_tokens".cast("double") / $"n_tokens".cast("double"), 6))
      .filter($"doc_id" < 300)
      .select($"doc_id", $"n_tokens", $"n_segments", $"n_dup_segments",
        $"dup_tokens", $"keep_frac")
      .orderBy($"doc_id")
  }

  val ld1Sql: String =
    """WITH dt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |sg AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    unnest(list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS INT)),
      |      i -> struct_pack(seg := array_to_string(list_slice(toks, i*10 + 1, i*10 + 10), ' '),
      |                       sl := CAST(len(list_slice(toks, i*10 + 1, i*10 + 10)) AS BIGINT)))) AS s
      |  FROM dt),
      |segs AS (SELECT doc_id, n_tokens, s.seg AS seg, s.sl AS sl FROM sg),
      |cnts AS (SELECT seg, COUNT(*) AS cnt FROM segs GROUP BY seg)
      |SELECT s.doc_id, any_value(s.n_tokens) AS n_tokens,
      |  COUNT(*) AS n_segments,
      |  CAST(SUM(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
      |  CAST(SUM(CASE WHEN c.cnt >= 2 THEN s.sl ELSE 0 END) AS BIGINT) AS dup_tokens,
      |  round(1.0 - CAST(SUM(CASE WHEN c.cnt >= 2 THEN s.sl ELSE 0 END) AS DOUBLE)
      |          / CAST(any_value(s.n_tokens) AS DOUBLE), 6) AS keep_frac
      |FROM segs s JOIN cnts c ON s.seg = c.seg
      |WHERE s.doc_id < 300
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------- lr1
  // Model-based quality scoring: a fixed linear classifier over engineered
  // document features (the fasttext-classifier / FineWeb-Edu shape — a
  // trained model's INFERENCE pass, run at corpus scale as a pure column
  // expression). Weights are fixed constants (training is out of scope —
  // the operator is the distributed scoring surface: features → logit →
  // sigmoid → keep flag).
  //
  // Scale: one doc_id-keyed aggregation over the token stream; zero joins,
  // zero windows, fully codegen'd. Determinism: integer counts into one
  // fixed-order double expression per doc; round(...,6) at the edge only.
  /** Adds stop_frac/ttr/z/score to any frame carrying the docStats columns
    * plus mean_wl — the ONE definition of the lr1 model, applied to
    * docStats directly (lrScored) or on top of the rule table (cal1). */
  private def scoreCols(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    df.withColumn("stop_frac", c("n_stop").cast("double") / c("n_words").cast("double"))
      .withColumn("ttr", c("n_types").cast("double") / c("n_words").cast("double"))
      .withColumn("z",
        lit(0.2) +
        lit(0.8) * ((c("n_words").cast("double") - 50.0) / 50.0) +
        lit(2.0) * (c("mean_wl") - 4.5) +
        lit(-3.0) * (c("stop_frac") - 0.25) +
        lit(4.0) * (c("ttr") - 0.5))
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-c("z"))))
  }

  private[llm] def lrScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    scoreCols(docStats(s, dir)
      .withColumn("mean_wl", $"chars".cast("double") / $"n_words".cast("double")))
  }

  def lr1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lrScored(s, dir)
      .filter($"doc_id" < 300)
      .select($"doc_id", $"n_words", round($"mean_wl", 6).as("mean_wl"),
        round($"stop_frac", 6).as("stop_frac"), round($"ttr", 6).as("ttr"),
        round($"score", 6).as("score"), ($"score" >= 0.5).as("keep"))
      .orderBy($"doc_id")
  }

  val lr1Sql: String =
    s"""WITH pt AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(length(tok)) AS BIGINT) AS chars,
       |    CAST(SUM(CASE WHEN tok IN ($stopsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       |    COUNT(DISTINCT tok) AS n_types
       |  FROM pt GROUP BY doc_id),
       |f AS (
       |  SELECT doc_id, n_words,
       |    CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_wl,
       |    CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_frac,
       |    CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr
       |  FROM m),
       |sc AS (
       |  SELECT doc_id, n_words, mean_wl, stop_frac, ttr,
       |    1.0 / (1.0 + exp(-(0.2
       |      + 0.8 * ((CAST(n_words AS DOUBLE) - 50.0) / 50.0)
       |      + 2.0 * (mean_wl - 4.5)
       |      + -3.0 * (stop_frac - 0.25)
       |      + 4.0 * (ttr - 0.5)))) AS score
       |  FROM f)
       |SELECT doc_id, n_words, round(mean_wl, 6) AS mean_wl,
       |  round(stop_frac, 6) AS stop_frac, round(ttr, 6) AS ttr,
       |  round(score, 6) AS score, score >= 0.5 AS keep
       |FROM sc WHERE doc_id < 300 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- cal1
  // Classifier calibration (reliability diagram): decile-bin the lr1
  // sigmoid score and report, per bin, the observed pass rate of the
  // rule-based gq1 gate — the check a pipeline runs before trusting a
  // cheap learned quality filter in place of its expensive rule/human
  // labels (a well-calibrated bin 7 should pass ≈ 70%). Binning happens
  // on the 6-dp-rounded score (both engines bin the identical rounded
  // double, so no boundary can flip between them); the per-bin mean score
  // aggregates integer-scaled scores (order-independent exact sums), and
  // the pass rate is pure integer counts — doubles appear only in the
  // final one-row-per-bin division. Scale shape: two doc-keyed hash aggs
  // (lrScored, gqRules) joined on doc_id, then a ≤10-group aggregate.
  def cal1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // score AND gate from the ONE docStats pass (gqRules carries every
    // docStats column, scoreCols layers the lr1 model on top) — no second
    // tokenize, no self-join: cal1 is one corpus aggregation + a ≤10-group
    // reduce.
    scoreCols(gqRules(s, dir))
      .select($"doc_id", round($"score", 6).as("sr"),
        round($"score" * 1e6, 0).cast("long").as("si"), $"pass")
      .withColumn("bin", floor($"sr" * 10).cast("long"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"si").as("ssum"),
        sum(when($"pass", 1L).otherwise(0L)).as("n_pass"))
      .select($"bin", $"n_docs",
        round(($"ssum".cast("double") / $"n_docs".cast("double")) / 1e6, 6)
          .as("mean_score"),
        $"n_pass",
        round($"n_pass".cast("double") / $"n_docs".cast("double"), 6)
          .as("pass_rate"))
      .orderBy($"bin")
  }

  val cal1Sql: String =
    s"""WITH pt AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(length(tok)) AS BIGINT) AS chars,
       |    CAST(SUM(CASE WHEN tok IN ($stopsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       |    CAST(SUM(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       |    CAST(SUM(CASE WHEN regexp_matches(tok, '[^a-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_sym,
       |    COUNT(DISTINCT tok) AS n_types
       |  FROM pt GROUP BY doc_id),
       |f AS (
       |  SELECT doc_id, n_words, n_stop, n_sym,
       |    CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_wl,
       |    CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_frac,
       |    CAST(n_short AS DOUBLE) / CAST(n_words AS DOUBLE) AS short_frac,
       |    CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr
       |  FROM m),
       |sc AS (
       |  SELECT doc_id,
       |    1.0 / (1.0 + exp(-(0.2
       |      + 0.8 * ((CAST(n_words AS DOUBLE) - 50.0) / 50.0)
       |      + 2.0 * (mean_wl - 4.5)
       |      + -3.0 * (stop_frac - 0.25)
       |      + 4.0 * (ttr - 0.5)))) AS score,
       |    (n_words BETWEEN 30 AND 80) AND (mean_wl BETWEEN 4.3 AND 4.7)
       |      AND n_stop >= 12 AND short_frac <= 0.05 AND n_sym = 0 AS pass
       |  FROM f),
       |b AS (
       |  SELECT CAST(FLOOR(round(score, 6) * 10) AS BIGINT) AS bin,
       |    CAST(ROUND(score * 1000000, 0) AS BIGINT) AS si,
       |    CASE WHEN pass THEN 1 ELSE 0 END AS p
       |  FROM sc)
       |SELECT bin, COUNT(*) AS n_docs,
       |  ROUND((CAST(SUM(si) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 1000000, 6) AS mean_score,
       |  CAST(SUM(p) AS BIGINT) AS n_pass,
       |  ROUND(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate
       |FROM b GROUP BY 1 ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- nv1
  // Corpus-wide novelty score — the curation signal DUAL to dedup: instead
  // of dropping near-duplicates pairwise, score each document by how much
  // of it appears NOWHERE else (the "uniqueness" weighting used when
  // up-sampling rare content and down-weighting boilerplate). Per doc:
  // the fraction of its DISTINCT 3-token shingles whose corpus document
  // frequency is exactly 1. Scale shape: within-doc distinct is an array
  // op before the explode (no doc-keyed shuffle), the shingle DF is one
  // shingle-keyed hash agg, and the score is a shingle-keyed equijoin back
  // plus a doc-keyed agg — the d4/ds1 candidate-generation family, never
  // O(n²) over documents. The novelty ratio is the same CAST/CAST IEEE
  // division in both engines, so the `is_novel` comparison needs no
  // rounding guard.
  private val NoveltyTau = 0.5

  /** ONE explicit repartition(sh) feeds both the df aggregation and the
    * shuffle-hash join-back, which are co-partitioned on top of it (the
    * d9Docs device, adopted r10): the tokenize→shingle→explode stream is
    * computed once (AQE stage reuse dedupes the second read into a
    * ReusedExchange), and the join stays sort-free with a
    * distinct-shingle-bounded build side (a hot boilerplate shingle is ONE
    * build entry; AQE skew-split applies to SHJ probe streams). Numbers:
    * OPTIMIZATION_r10.md §5.
    */
  def nv1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select($"doc_id", explode(array_distinct(TextOps.shingles3($"toks"))).as("sh"))
    val part = sh.repartition($"sh")
    val df = part.groupBy($"sh").agg(count(lit(1)).as("sdf"))
    part.join(df.hint("shuffle_hash"), "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"sdf" === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", $"n_novel".cast("double") / $"n_shingles".cast("double"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        round($"novelty", 6).as("novelty"), ($"novelty" >= NoveltyTau).as("is_novel"))
      .orderBy($"doc_id")
  }

  val nv1Sql: String =
    s"""WITH dt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |pt AS (
       |  SELECT doc_id, s.pos AS pos, s.tok AS tok
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(toks, (x, i) -> struct_pack(pos := i, tok := x))) AS s
       |        FROM dt WHERE len(toks) >= 3) t),
       |sh0 AS (
       |  SELECT doc_id,
       |    tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
       |    lead(tok, 2) OVER w AS t2
       |  FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |sh AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE t2 IS NOT NULL),
       |df AS (SELECT sh, COUNT(*) AS sdf FROM sh GROUP BY sh),
       |m AS (
       |  SELECT s.doc_id, COUNT(*) AS n_shingles,
       |    CAST(SUM(CASE WHEN d.sdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM sh s JOIN df d ON s.sh = d.sh GROUP BY s.doc_id)
       |SELECT doc_id, n_shingles, n_novel,
       |  round(CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) AS novelty,
       |  CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= $NoveltyTau AS is_novel
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- cdk1
  // Content-defined chunking (the LBFS/FastCDC boundary rule applied at
  // token granularity): a chunk boundary falls after token i whenever a
  // rolling hash of the last 4 tokens hits 0 mod 8 — so boundaries are
  // CONTENT-anchored and a single-token insertion only reflows the chunks
  // it touches, where ld1's fixed aligned segments shift every downstream
  // segment. Chunks are then exact-deduped corpus-wide by their text.
  // Cross-engine determinism: the token hash is position-weighted ASCII
  // codes (pure integer HOF fold — same arithmetic in both engines), and
  // the chunk key is the chunk TEXT itself, not an engine hash. Scale
  // shape: the whole boundary rule runs as ONE array transform/aggregate
  // pass per document row — no explode, no doc-partitioned window chain
  // (r6 ran lag×3 + a running-sum window over the exploded token stream;
  // the window stack was 2.26× DuckDB) — then one chunk-text hash agg and
  // one equijoin back.
  private val CdkW = 4    // rolling window (tokens)
  private val CdkD = 8    // boundary divisor → expected chunk ≈ 8 tokens

  def cdk1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    // one native per-row kernel: tokenize → rolling-hash boundaries →
    // chunk texts (see CdcChunks — integer arithmetic identical to the
    // oracle SQL), then explode only the CHUNKS, never the tokens
    val chunksExpr = GraftSqlBridge.column(graft.functions.CdcChunks(
      GraftSqlBridge.expression(TextOps.tokens($"text")), CdkD))
    val chunks = Tables.documents(s, dir)
      .select($"doc_id", explode(chunksExpr).as("ctext"))
    val occ = chunks.groupBy($"ctext").agg(count(lit(1)).as("cnt"))
    chunks.join(occ, "ctext")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"cnt" > 1L, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        round($"n_dup_chunks".cast("double") / $"n_chunks".cast("double"), 6))
      .orderBy($"doc_id")
  }

  val cdk1Sql: String =
    s"""WITH dt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |pt AS (
       |  SELECT doc_id, s.pos AS pos, s.tok AS tok
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(toks, (x, i) -> struct_pack(pos := i, tok := x))) AS s
       |        FROM dt) t),
       |cc AS (
       |  SELECT doc_id, pos, tok,
       |    list_sum(list_transform(string_split(tok, ''), (ch, j) -> ord(ch) * j)) AS c
       |  FROM pt),
       |hb AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN pos >= $CdkW AND
       |      (11 * c + 7 * lag(c, 1, 0) OVER w + 5 * lag(c, 2, 0) OVER w
       |       + 3 * lag(c, 3, 0) OVER w) % $CdkD = 0
       |    THEN 1 ELSE 0 END AS b
       |  FROM cc WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |cid AS (
       |  SELECT doc_id, pos, tok,
       |    1 + COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
       |  FROM hb),
       |chunks AS (
       |  SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY pos) AS ctext
       |  FROM cid GROUP BY doc_id, cid),
       |occ AS (SELECT ctext, COUNT(*) AS cnt FROM chunks GROUP BY ctext),
       |m AS (
       |  SELECT c.doc_id, COUNT(*) AS n_chunks,
       |    CAST(SUM(CASE WHEN o.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
       |  FROM chunks c JOIN occ o ON c.ctext = o.ctext GROUP BY c.doc_id)
       |SELECT doc_id, n_chunks, n_dup_chunks,
       |  round(CAST(n_dup_chunks AS DOUBLE) / CAST(n_chunks AS DOUBLE), 6) AS dup_frac
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- qf1
  // ADAPTIVE quality floor — "keep the best half of every source" instead
  // of one global cutoff (the per-domain thresholding used when a fixed
  // gate would empty low-resource domains and wave through boilerplate
  // ones). Floor = each source's MEDIAN lr1 score; keep = score ≥ own
  // source's floor. Cross-engine: lr1's score is already bit-exact, and
  // Spark's exact `percentile` interpolates identically to DuckDB's
  // quantile_cont (proven by a8), so the ≥ comparison needs no epsilon.
  // Scale shape: floors are a source-keyed agg (map-side partial) whose
  // result is dimension-sized → broadcast back; at petabyte scale swap
  // `percentile` for `percentile_approx` (same plan shape, mergeable
  // sketch) — the floor is a tuning constant, not an exact statistic.
  def qf1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = lrScored(s, dir)
    val floors = sc.groupBy($"source")
      .agg(percentile($"score", lit(0.5)).as("floor"), count(lit(1)).as("n_src"))
    sc.join(broadcast(floors), "source")
      .filter($"doc_id" < 300)
      .select($"doc_id", $"source", $"n_src", round($"score", 6).as("score"),
        round($"floor", 6).as("floor"), ($"score" >= $"floor").as("keep"))
      .orderBy($"doc_id")
  }

  val qf1Sql: String =
    s"""WITH pt AS (
       |  SELECT doc_id, source,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, source, COUNT(*) AS n_words,
       |    CAST(SUM(length(tok)) AS BIGINT) AS chars,
       |    CAST(SUM(CASE WHEN tok IN ($stopsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       |    COUNT(DISTINCT tok) AS n_types
       |  FROM pt GROUP BY doc_id, source),
       |f AS (
       |  SELECT doc_id, source, n_words,
       |    CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_wl,
       |    CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_frac,
       |    CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE) AS ttr
       |  FROM m),
       |sc AS (
       |  SELECT doc_id, source,
       |    1.0 / (1.0 + exp(-(0.2
       |      + 0.8 * ((CAST(n_words AS DOUBLE) - 50.0) / 50.0)
       |      + 2.0 * (mean_wl - 4.5)
       |      + -3.0 * (stop_frac - 0.25)
       |      + 4.0 * (ttr - 0.5)))) AS score
       |  FROM f),
       |fl AS (
       |  SELECT source, quantile_cont(score, 0.5) AS floor, COUNT(*) AS n_src
       |  FROM sc GROUP BY source)
       |SELECT sc.doc_id, sc.source, fl.n_src, round(sc.score, 6) AS score,
       |  round(fl.floor, 6) AS floor, sc.score >= fl.floor AS keep
       |FROM sc JOIN fl ON sc.source = fl.source
       |WHERE sc.doc_id < 300 ORDER BY sc.doc_id""".stripMargin

  /** ent1: character-entropy quality gate — Shannon entropy (nats) of the
    * per-document character distribution, the classic gibberish /
    * low-diversity detector (boilerplate, repeated-char spam, and
    * base64-ish blobs sit at the distribution's tails). Natural text runs
    * ~2.8–3.0 nats; the keep gate is ≥ 2.0.
    *
    * Scale posture: two hash aggregates — (doc_id, ch) counts with
    * map-side combine, then one doc_id-keyed agg whose `collect_list`
    * state is ALPHABET-bounded (≤ distinct chars per doc, not text
    * length), so per-group state is tiny at any corpus size. Determinism:
    * −Σ p·ln p is a LEFT FOLD over the ch-sorted count list (the t8
    * sorted-fold discipline) — exact integer counts feed one
    * identically-ordered double formula on both engines.
    */
  def ent1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Spark's split uses Java's limit=-1 semantics: splitting on the empty
    // pattern yields a trailing "" element — drop it (DuckDB's
    // string_split('', ...) emits none).
    Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", "")).as("ch"))
      .filter($"ch" =!= "")
      .groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct($"ch", $"c"))).as("ts"))
      .withColumn("lp", aggregate($"ts", lit(0.0),
        (acc, x) => acc + (x("c").cast("double") / $"n".cast("double")) *
          log(x("c").cast("double") / $"n".cast("double"))))
      .select($"doc_id", $"n", $"n_distinct",
        round(-$"lp", 6).as("entropy"),
        (round(-$"lp", 6) >= 2.0).as("keep"))
      .orderBy($"doc_id")
  }
  val ent1Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      |c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2),
      |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
      |        COUNT(*) AS n_distinct,
      |        list_sort(list(struct_pack(ch := ch, c := c))) AS ts
      |      FROM c GROUP BY 1),
      |e AS (SELECT doc_id, n, n_distinct,
      |        list_reduce(list_transform(ts,
      |          x -> (CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE)) *
      |               ln(CAST(x.c AS DOUBLE) / CAST(n AS DOUBLE))),
      |          (a, b) -> a + b) AS lp
      |      FROM a)
      |SELECT doc_id, n, n_distinct, ROUND(-lp, 6) AS entropy,
      |  ROUND(-lp, 6) >= 2.0 AS keep
      |FROM e ORDER BY doc_id""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("ent1_char_entropy", ent1, ent1Sql),
    Query("gq1_gopher_rules", gq1, gq1Sql),
    Query("pii1_redaction", pii1, pii1Sql),
    Query("dsir1_importance_resample", dsir1, dsir1Sql),
    Query("ld1_segment_dedup", ld1, ld1Sql),
    Query("lr1_quality_classifier", lr1, lr1Sql),
    Query("nv1_novelty_score", nv1, nv1Sql),
    Query("cdk1_content_chunking", cdk1, cdk1Sql),
    Query("qf1_adaptive_floor", qf1, qf1Sql),
    Query("cal1_score_calibration", cal1, cal1Sql),
  )
}
