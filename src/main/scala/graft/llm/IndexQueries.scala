package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Query, Tables}
import graft.text.TextOps

/** Tokenizer-training, indexing, and change-data queries — the remaining
  * infrastructure a training-data platform runs beside curation (north-star
  * widening; the reference stops at analysis outputs).
  */
object IndexQueries extends graft.core.QueryModule {

  /** bpe1: one statistics pass of BPE tokenizer training — adjacent
    * character-pair frequencies weighted by word frequency, top 20 (the
    * pair a merge step would fuse). The word-frequency table is the classic
    * BPE compaction: pair counting runs over the VOCABULARY (dictionary-
    * sized) with an integer weight, not over the corpus token stream — at
    * 100 TB the word count is one map-side-combined shuffle and the pair
    * explode touches |vocab| × avg_len rows. Exact integer counts; ties
    * broken by pair text for a deterministic top-20.
    */
  def bpe1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wf = Tables.documents(s, dir)
      .select(explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
    wf.filter(length($"w") >= 2)
      .select($"w", $"f", explode(sequence(lit(1), length($"w") - 1)).as("i"))
      .select($"w".substr($"i", lit(2)).as("pair"), $"f")
      .groupBy($"pair").agg(sum($"f").as("freq"))
      .orderBy($"freq".desc, $"pair")
      .limit(20)
  }

  val bpe1Sql: String =
    """WITH words AS (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents),
      |wf AS (SELECT w, COUNT(*) AS f FROM words GROUP BY w),
      |p AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, f
      |      FROM (SELECT w, f, unnest(range(1, length(w))) AS i
      |            FROM wf WHERE length(w) >= 2) t)
      |SELECT pair, CAST(SUM(f) AS BIGINT) AS freq
      |FROM p GROUP BY pair ORDER BY freq DESC, pair LIMIT 20""".stripMargin

  /** bpe2: the BPE merge LOOP — three actual merge steps, not just one
    * statistics pass (bpe1). Classic trainer shape: pair counting and
    * merging run over the WORD-FREQUENCY DICT (vocabulary-sized, weighted
    * by freq), never over the corpus token stream — the corpus is read
    * once for word counts, then each iteration is one explode+groupBy over
    * the dict plus a map-side merge ([[BpeTrainer]] with batch size 1:
    * the per-step argmax is a 2-row driver scalar, like PageRank's node
    * count).
    *
    * Merging pair (a,b) is a left FOLD over the token sequence
    * ([[BpeTrainer.mergeBatch]]) — greedy left-to-right non-overlapping,
    * including consecutive occurrences, with a token just produced by a
    * merge never re-merging in the same step. (The earlier
    * `replace(' a b ', ' ab ')` string form silently skipped every second
    * adjacent occurrence because the two matches share a separator space,
    * and for a==b diverged from greedy merge positions.) The oracle
    * replays the identical fold via DuckDB `list_reduce`, deriving the
    * fold's `last` token from the accumulator's tail. Ties in the argmax
    * break by (count DESC, left, right). Integer counts: exact.
    */
  def bpe2(s: SparkSession, dir: String): DataFrame =
    bpeTrainDf(s, dir, n = 3, maxBatch = 1)

  private[llm] def bpeTrainDf(s: SparkSession, dir: String, n: Int,
                              maxBatch: Int): DataFrame = {
    import s.implicits._
    val words = BpeTrainer.wordDict(s, dir)
      .localCheckpoint() // dict is small by construction; don't re-read the corpus per step
    val (merges, _) = BpeTrainer.trainBatched(words, n, maxBatch)
    merges.map(m => (m.step, m.lhs, m.rhs, m.merged, m.pairCount))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .orderBy($"step")
  }

  /** Generates the n-step sequential-BPE oracle: a chain of
    * (pair-count, argmax, fold-merge) CTE triples. The fold-merge is
    * DuckDB `list_reduce` with the accumulated output string doubling as
    * state — the fold's `last` token is the accumulator's tail
    * (`ends_with(' '||acc, ' '||a)`), which is exactly [[BpeTrainer
    * .mergeBatch]]'s semantics: a merge fuses x onto the last token, and
    * the fused token (a||b, strictly longer than a) can never re-match a.
    */
  private[llm] def bpeSequentialSql(n: Int): String = {
    def pairs(w: String, p: String): String =
      s"""$p AS (SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |      FROM (SELECT freq, t, unnest(generate_series(1, len(t) - 1)) AS i
         |            FROM (SELECT freq, string_split(trim(toks), ' ') AS t FROM $w))
         |      GROUP BY 1, 2)""".stripMargin
    def top(p: String, m: String): String =
      s"$m AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1)"
    def merge(w: String, m: String, w2: String): String =
      s"""$w2 AS (SELECT freq,
         |  list_reduce(string_split(trim(toks), ' '),
         |    (acc, x) -> CASE WHEN ends_with(' ' || acc, ' ' || $m.a) AND x = $m.b
         |                THEN acc || x ELSE acc || ' ' || x END) AS toks
         |  FROM $w, $m)""".stripMargin
    val steps = (1 to n).map { i =>
      val chain = Seq(pairs(s"w${i - 1}", s"p$i"), top(s"p$i", s"m$i")) ++
        (if (i < n) Seq(merge(s"w${i - 1}", s"m$i", s"w$i")) else Nil)
      chain.mkString(",\n")
    }.mkString(",\n")
    val out = (1 to n).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, a || b AS merged, cnt AS pair_count FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""WITH words AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |w0 AS (
       |  SELECT COUNT(*) AS freq,
       |    array_to_string(string_split(w, ''), ' ') AS toks
       |  FROM words GROUP BY w),
       |$steps
       |SELECT * FROM (
       |  $out)
       |ORDER BY step""".stripMargin
  }

  val bpe2Sql: String = bpeSequentialSql(3)

  /** bpe3: BATCHED BPE training — 8 merges via [[BpeTrainer.trainBatched]]
    * in strict mode, which applies a mutually-disjoint PREFIX of each
    * pass's pair ranking so the result is bit-identical to sequential
    * greedy training (proof sketch in the BpeTrainer scaladoc). The oracle
    * replays 8 strictly sequential steps — the equality IS the assertion.
    * The wide-batch production config (strict=false with a sequential
    * warmup, ~n/batch pair-count jobs for a ~30k-merge train instead of
    * 30k driver round-trips) is a driver-side selection loop with no
    * SQL-expressible oracle; BpeTrainSpec covers it against the pure-Scala
    * sequential gold.
    */
  def bpe3(s: SparkSession, dir: String): DataFrame =
    bpeTrainDf(s, dir, n = 8, maxBatch = 8)

  val bpe3Sql: String = bpeSequentialSql(8)

  /** bpe4: tokenizer APPLICATION — train 8 merges (strict-batched, ≡
    * sequential; bpe3's trainer) and ENCODE the corpus with them. The
    * encode runs over the VOCABULARY (one [[BpeTrainer.encode]] replay per
    * distinct word, merge table broadcast), then a broadcast join maps the
    * word-level subtoken counts back onto the corpus word stream — at
    * 100 TB the corpus-sized side is touched exactly once and never
    * carries the encoder. Per doc: words, chars, subtokens after BPE, and
    * the chars-per-subtoken compression ratio (the tokenizer-eval metric).
    * The encode UDF is deliberately a UDF, not a column fold: it runs on
    * |vocab| rows only, off the corpus hot path.
    */
  def bpe4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = BpeTrainer.wordDict(s, dir).localCheckpoint()
    val (merges, _) = BpeTrainer.trainBatched(words, n = 8, maxBatch = 8)
    val bms = s.sparkContext.broadcast(merges.map(m => (m.lhs, m.rhs)))
    val encLen = udf { (w: String) => BpeTrainer.encode(w, bms.value).length.toLong }
    val docw = Tables.documents(s, dir)
      .select($"doc_id", explode(TextOps.tokens($"text")).as("w"))
    val vocab = docw.select($"w").distinct().withColumn("nsub", encLen($"w"))
    docw.join(broadcast(vocab), "w")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"w").cast("long")).as("n_chars"),
        sum($"nsub").as("n_subtokens"))
      .withColumn("compression",
        $"n_chars".cast("double") / $"n_subtokens".cast("double"))
      .filter($"doc_id" < 200)
      .select($"doc_id", $"n_words", $"n_chars", $"n_subtokens",
        round($"compression", 6).as("compression"))
      .orderBy($"doc_id")
  }

  /** Generates the bpe4 oracle: the same n-step sequential chain as
    * [[bpeSequentialSql]] but carrying the source word through every merge
    * (so the final dict state doubles as the word→encoding map), followed
    * by the corpus fold: per-doc subtoken totals via a word-level join. */
  private[llm] def bpeEncodeSql(n: Int): String = {
    def pairs(w: String, p: String): String =
      s"""$p AS (SELECT t[i] AS a, t[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |      FROM (SELECT freq, t, unnest(generate_series(1, len(t) - 1)) AS i
         |            FROM (SELECT freq, string_split(trim(toks), ' ') AS t FROM $w))
         |      GROUP BY 1, 2)""".stripMargin
    def top(p: String, m: String): String =
      s"$m AS (SELECT a, b, cnt FROM $p ORDER BY cnt DESC, a, b LIMIT 1)"
    def merge(w: String, m: String, w2: String): String =
      s"""$w2 AS (SELECT w, freq,
         |  list_reduce(string_split(trim(toks), ' '),
         |    (acc, x) -> CASE WHEN ends_with(' ' || acc, ' ' || $m.a) AND x = $m.b
         |                THEN acc || x ELSE acc || ' ' || x END) AS toks
         |  FROM $w, $m)""".stripMargin
    val steps = (1 to n).map { i =>
      Seq(pairs(s"w${i - 1}", s"p$i"), top(s"p$i", s"m$i"),
        merge(s"w${i - 1}", s"m$i", s"w$i")).mkString(",\n")
    }.mkString(",\n")
    s"""WITH docw AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |w0 AS (
       |  SELECT w, COUNT(*) AS freq,
       |    array_to_string(string_split(w, ''), ' ') AS toks
       |  FROM docw GROUP BY w),
       |$steps,
       |enc AS (SELECT w, CAST(len(string_split(trim(toks), ' ')) AS BIGINT) AS nsub
       |        FROM w$n)
       |SELECT d.doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
       |  CAST(SUM(e.nsub) AS BIGINT) AS n_subtokens,
       |  round(CAST(SUM(length(d.w)) AS DOUBLE) / CAST(SUM(e.nsub) AS DOUBLE), 6)
       |    AS compression
       |FROM docw d JOIN enc e ON d.w = e.w
       |WHERE d.doc_id < 200 GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  val bpe4Sql: String = bpeEncodeSql(8)

  /** ii1: inverted-index build — per term: document frequency and the
    * first 10 postings (smallest doc ids). The posting cap rides the
    * shuffle as a MERGEABLE aggregate ([[graft.functions.Aggregators.MinK]]:
    * ≤ k longs per term) instead of collect_set-then-slice dragging every
    * posting through the shuffle. Emitted exploded (term, df, rk, doc_id)
    * so the compare is row-shaped.
    */
  def ii1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val minK = udaf(new graft.functions.Aggregators.MinK(10))
    val pairs = TextOps.docTokens(Tables.documents(s, dir), $"doc_id", $"text")
      .select($"tok", $"doc_id").distinct()
    pairs.groupBy($"tok")
      .agg(count(lit(1)).as("df"), minK($"doc_id").as("postings"))
      .filter($"df" >= 50)
      .select($"tok".as("term"), $"df", posexplode($"postings").as(Seq("pos", "doc_id")))
      .select($"term", $"df", ($"pos" + 1).cast("long").as("rk"), $"doc_id")
      .orderBy($"term", $"rk")
  }

  val ii1Sql: String =
    """WITH pt AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      |  FROM documents),
      |idx AS (
      |  SELECT tok AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
      |    (list_sort(list(DISTINCT doc_id)))[1:10] AS postings
      |  FROM pt GROUP BY tok HAVING COUNT(DISTINCT doc_id) >= 50)
      |SELECT term, df, s.rk AS rk, s.doc_id AS doc_id
      |FROM (SELECT term, df,
      |        unnest(list_transform(postings,
      |          (x, i) -> struct_pack(rk := CAST(i AS BIGINT), doc_id := x))) AS s
      |      FROM idx) t
      |ORDER BY term, rk""".stripMargin

  private val CdcCutUs = 1705363200000000L // 2024-01-16T00:00:00Z in epoch µs

  /** cdc1: change-data-capture MERGE — events before the cut build a
    * row-level base snapshot (last state per user), events after are the
    * change batch; the merge is `base FULL OUTER changes` with
    * changes-win/delete-drop semantics (`purchase` plays the delete op).
    * This is the Delta/Iceberg MERGE INTO shape as a plain shuffle join:
    * each side is one groupBy(user_id) argmax (max_by on the unique
    * (us, event_id) order — no window over the event stream), and the
    * merge shuffles only the two snapshots, never the raw log. Distinct
    * from im1 (aggregate maintenance): state here is per-ROW last-writer-
    * wins with deletes, not a re-aggregable sum.
    */
  def cdc1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id", $"value",
        when($"event_type" === "purchase", "D").otherwise("U").as("op"))
    def lastState(df: DataFrame): DataFrame = df.groupBy($"user_id")
      .agg(max_by(struct($"op", $"value", $"us"), struct($"us", $"event_id")).as("st"))
      .select($"user_id", $"st.op".as("op"), $"st.value".as("value"), $"st.us".as("us"))
    val base = lastState(e.filter($"us" < CdcCutUs))
      .select($"user_id".as("b_user"), $"op".as("b_op"), $"value".as("b_value"))
    val chg = lastState(e.filter($"us" >= CdcCutUs))
      .select($"user_id".as("c_user"), $"op".as("c_op"), $"value".as("c_value"))
    base.join(chg, $"b_user" === $"c_user", "full_outer")
      .filter(coalesce($"c_op", $"b_op") =!= "D")
      .select(coalesce($"b_user", $"c_user").as("user_id"),
        coalesce($"c_value", $"b_value").as("value"),
        when($"b_user".isNull, "inserted")
          .when($"c_user".isNull, "carried").otherwise("updated").as("row_status"))
      .orderBy($"user_id")
  }

  val cdc1Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id, value,
       |    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
       |  FROM events),
       |base AS (
       |  SELECT user_id AS b_user, op AS b_op, value AS b_value FROM (
       |    SELECT *, ROW_NUMBER() OVER
       |      (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
       |    FROM e WHERE us < $CdcCutUs) t WHERE rn = 1),
       |chg AS (
       |  SELECT user_id AS c_user, op AS c_op, value AS c_value FROM (
       |    SELECT *, ROW_NUMBER() OVER
       |      (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
       |    FROM e WHERE us >= $CdcCutUs) t WHERE rn = 1)
       |SELECT COALESCE(b_user, c_user) AS user_id,
       |  COALESCE(c_value, b_value) AS value,
       |  CASE WHEN b_user IS NULL THEN 'inserted'
       |       WHEN c_user IS NULL THEN 'carried' ELSE 'updated' END AS row_status
       |FROM base FULL OUTER JOIN chg ON b_user = c_user
       |WHERE COALESCE(c_op, b_op) <> 'D'
       |ORDER BY user_id""".stripMargin

  /** spl1: deterministic train/val/test assignment — split by the Knuth
    * multiplicative hash of doc_id (reproducible across runs, retries, and
    * engines — `rand()` is none of those), audited as doc/token counts per
    * (split, source). The assignment is a pure column expression on the
    * scan (no shuffle); the audit is one map-side-combined groupBy. 80/10/10
    * by hash bucket, the standard leakage-free split discipline: membership
    * is a function of the stable id, so re-runs and incremental appends
    * never migrate a document across splits.
    */
  def spl1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = graft.operators.GlobalRank.knuthHash($"doc_id") % 100
    Tables.documents(s, dir)
      .select($"source", size(TextOps.tokens($"text")).cast("long").as("tok"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      .groupBy($"split", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"tok").as("tokens"))
      .orderBy($"split", $"source")
  }

  val spl1Sql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tok,
      |    CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
      |         WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, source, COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens
      |FROM d GROUP BY 1, 2 ORDER BY split, source""".stripMargin

  /** diff1: corpus snapshot diff — the dataset-version audit between two
    * corpus releases: added / removed / changed / unchanged doc counts by
    * content fingerprint (md5), via one FULL OUTER join on doc_id. At
    * scale the two sides are different corpus versions read from their own
    * roots; here both snapshots derive deterministically from the one test
    * table (era A drops doc_id%10==3, era B drops %10==7 and edits %11==0)
    * so the oracle can replay them exactly.
    */
  def diff1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
    val a = d.filter($"doc_id" % 10 =!= 3)
      .select($"doc_id", md5($"text").as("fp_a"))
    val b = d.filter($"doc_id" % 10 =!= 7)
      .select($"doc_id", md5(when($"doc_id" % 11 === 0,
        concat($"text", lit(" edited"))).otherwise($"text")).as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        when($"fp_a".isNull, "added").when($"fp_b".isNull, "removed")
          .when($"fp_a" =!= $"fp_b", "changed").otherwise("unchanged").as("status"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"status")
  }

  val diff1Sql: String =
    """WITH a AS (
      |  SELECT doc_id, md5(text) AS fp_a FROM documents WHERE doc_id % 10 <> 3),
      |b AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END) AS fp_b
      |  FROM documents WHERE doc_id % 10 <> 7),
      |j AS (
      |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |    CASE WHEN fp_a IS NULL THEN 'added'
      |         WHEN fp_b IS NULL THEN 'removed'
      |         WHEN fp_a <> fp_b THEN 'changed' ELSE 'unchanged' END AS status
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT status, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  /** wsm1: weighted sample without replacement (Efraimidis–Spirakis A-Res)
    * — k docs per language with inclusion probability ∝ n_chars, via the
    * priority p = -ln(u)/w over a DETERMINISTIC uniform u from the Knuth
    * hash (reproducible across runs/retries/engines, unlike rand(); sm1's
    * discipline). Smallest-k by p ≡ largest-k by u^(1/w), the A-Res rule.
    * The rank is a MERGEABLE bottom-k aggregate
    * ([[graft.functions.Aggregators.BottomKByPriority]]) — lang has ~5
    * distinct values, so a `row_number` window partitioned by lang would
    * funnel the whole corpus into ~5 tasks at 100 TB; the aggregator's
    * map-side partial keeps ≤ k (p, id) pairs per group on the shuffle.
    */
  def wsm1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = (graft.operators.GlobalRank.knuthHash($"doc_id") + 1)
      .cast("double") / 4294967297.0
    val bk = udaf(new graft.functions.Aggregators.BottomKByPriority(4))
    Tables.documents(s, dir)
      .select($"lang", $"doc_id",
        (-log(u) / $"n_chars".cast("double")).as("p"))
      .groupBy($"lang")
      .agg(bk($"p", $"doc_id").as("ids"))
      .select($"lang", posexplode($"ids").as(Seq("pos", "doc_id")))
      .select($"lang", ($"pos" + 1).cast("long").as("rk"), $"doc_id")
      .orderBy($"lang", $"rk")
  }

  val wsm1Sql: String =
    """WITH d AS (
      |  SELECT lang, doc_id,
      |    -ln(CAST((doc_id * 2654435761) % 4294967296 + 1 AS DOUBLE) / 4294967297.0)
      |      / CAST(n_chars AS DOUBLE) AS p
      |  FROM documents),
      |r AS (SELECT lang, doc_id,
      |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p, doc_id) AS rk
      |      FROM d)
      |SELECT lang, rk, doc_id FROM r WHERE rk <= 4 ORDER BY lang, rk""".stripMargin

  /** pi1: positional-index phrase search — every occurrence of a 3-word
    * phrase located by POSITION-ADJACENCY joins over the (doc_id, pos, tok)
    * posting stream (the inverted-index phrase-match shape: probe each
    * term's postings, then intersect on doc with pos offsets +1/+2 —
    * exactly how a search engine answers "a b c" as a phrase, not a bag).
    * The phrase itself is data-derived (the corpus's most frequent trigram,
    * ties by text) so the query discriminates at every SF with no
    * hardcoded literal. Scale shape: the phrase pick is one shingle-keyed
    * hash agg + TakeOrdered(1); each probe is a selective semi-filter of
    * the token stream (df(w_i) rows); the intersections are (doc_id, pos)
    * equijoins — never a scan of unfiltered positions against positions.
    */
  def pi1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val top = docs
      .select(TextOps.tokens($"text").as("toks")).filter(size($"toks") >= 3)
      .select(explode(TextOps.shingles3($"toks")).as("sh"))
      .groupBy($"sh").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"sh").limit(1)
      .select(split($"sh", "_").as("ws"))
      .select(element_at($"ws", 1).as("w1"), element_at($"ws", 2).as("w2"),
        element_at($"ws", 3).as("w3"))
    val pt = TextOps.docTokens(docs, $"doc_id", $"text")
    val b = broadcast(top)
    val p1 = pt.join(b, $"tok" === $"w1").select($"doc_id", $"pos", $"w1", $"w2", $"w3")
    val p2 = pt.join(b, $"tok" === $"w2").select($"doc_id".as("d2"), $"pos".as("q2"))
    val p3 = pt.join(b, $"tok" === $"w3").select($"doc_id".as("d3"), $"pos".as("q3"))
    p1.join(p2, $"doc_id" === $"d2" && $"q2" === $"pos" + 1)
      .join(p3, $"doc_id" === $"d3" && $"q3" === $"pos" + 2)
      .select($"doc_id", $"pos".cast("long").as("start_pos"),
        concat_ws(" ", $"w1", $"w2", $"w3").as("phrase"))
      .orderBy($"doc_id", $"start_pos")
  }

  val pi1Sql: String =
    """WITH dt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |pt AS (
      |  SELECT doc_id, s.pos AS pos, s.tok AS tok
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(toks, (x, i) -> struct_pack(pos := i, tok := x))) AS s
      |        FROM dt) t),
      |sh0 AS (
      |  SELECT tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
      |    lead(tok, 2) OVER w AS t2
      |  FROM (SELECT * FROM pt WHERE doc_id IN (SELECT doc_id FROM dt WHERE len(toks) >= 3)) p
      |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |top AS (
      |  SELECT string_split(sh, '_')[1] AS w1, string_split(sh, '_')[2] AS w2,
      |    string_split(sh, '_')[3] AS w3
      |  FROM (SELECT sh, COUNT(*) AS cnt FROM sh0 WHERE t2 IS NOT NULL
      |        GROUP BY sh ORDER BY cnt DESC, sh LIMIT 1) t)
      |SELECT a.doc_id, a.pos AS start_pos, top.w1 || ' ' || top.w2 || ' ' || top.w3 AS phrase
      |FROM pt a JOIN top ON a.tok = top.w1
      |JOIN pt b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.tok = top.w2
      |JOIN pt c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.tok = top.w3
      |ORDER BY a.doc_id, start_pos""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("bpe1_pair_counts", bpe1, bpe1Sql),
    Query("bpe2_merge_train", bpe2, bpe2Sql),
    Query("bpe3_batched_train", bpe3, bpe3Sql),
    Query("bpe4_encode", bpe4, bpe4Sql),
    Query("ii1_inverted_index", ii1, ii1Sql),
    Query("cdc1_merge_snapshot", cdc1, cdc1Sql),
    Query("spl1_hash_split", spl1, spl1Sql),
    Query("diff1_snapshot_diff", diff1, diff1Sql),
    Query("wsm1_weighted_sample", wsm1, wsm1Sql),
    Query("pi1_phrase_search", pi1, pi1Sql),
  )
}
