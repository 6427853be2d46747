package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Query, StageCache, Tables}
import graft.text.TextOps
import graft.similarity.VectorOps

/** Training-data-pipeline operators: deduplication (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding cosine), similarity search (brute
  * force + sign-LSH bucketed), and text analysis (language-ID heuristic,
  * quality scoring, token stats, fingerprinting) — each oracle-checked.
  *
  * Scale design: every pipeline is candidate-generation → bucket-join, never
  * an O(n²) cross join. MinHash pairs come from band-key equijoins; cosine
  * near-dup pairs are restricted to a coarse partition (label = the IVF
  * cell); the global token dictionary is the oracle-exact small-vocab route,
  * with `TextOps.hashTokenId` as the shuffle-free 100 TB route.
  */
object LlmQueries extends graft.core.QueryModule {

  private val P = TextOps.MinhashPrime
  private val Stops =
    Seq("the", "data", "query", "table", "scan", "join", "group", "order", "filter", "row")
  private def stopsSqlList = Stops.map(s => s"'$s'").mkString(", ")

  /** Shared DuckDB CTE prefix: positioned tokens + dictionary. */
  private val duckTokCtes =
    """WITH dt AS (
      |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |pt AS (
      |  SELECT doc_id, lang, s.pos AS pos, s.tok AS tok
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_transform(toks, (x, i) -> struct_pack(pos := i, tok := x))) AS s
      |        FROM dt) t),
      |dict AS (
      |  SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY tok) AS BIGINT) AS tid
      |  FROM (SELECT DISTINCT tok FROM pt) u),
      |ids AS (
      |  SELECT p.doc_id, p.pos, d.tid FROM pt p JOIN dict d ON p.tok = d.tok)""".stripMargin

  /** The stage `key` of `dir`'s corpus, held in [[graft.core.StageCache]]
    * as a `localCheckpoint`: built once per (session, dir) and rebuilt when
    * `dir` is rewritten. The checkpoint is taken here, so its RDD's call
    * site names this file. */
  private def memoized(s: SparkSession, dir: String, key: String)
      (build: => DataFrame): DataFrame =
    StageCache.get(s, dir, key)(build.localCheckpoint())

  // Positioned token stream and id-mapped stream are THE shared
  // intermediates of the text pipeline (language-ID, quality, token stats,
  // simhash, fingerprint all fold the same tokenization).
  private def docTokens(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "docTokens") {
      TextOps.docTokens(Tables.documents(s, dir), col("doc_id"), col("text"),
        keep = Seq(col("lang")))
    }

  private[llm] def docTids(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "docTids") {
      val pt = docTokens(s, dir)
      // dictionary is vocabulary-sized → broadcast; the token stream never shuffles
      pt.join(broadcast(TextOps.tokenDict(pt)), "tok")
        .select(col("doc_id"), col("pos"), col("tid"))
    }

  // D1: exact dedup — canonical-keeper per duplicate group (md5 of text as
  // the group key; hash-groupBy is the 100 TB route) + corpus-level stats.
  def d1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(md5($"text")).as("n_unique"),
        min($"doc_id").as("keep_id"))
      .orderBy($"lang", $"source")
  }
  val d1Sql: String =
    """SELECT lang, source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
      |  min(doc_id) AS keep_id
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // D2: MinHash + LSH near-dup candidates — 8 minhashes, 4 bands × 2 rows,
  // candidates from band-key equijoin (not O(n²)), similarity = matched
  // signature fraction.
  def d2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Signature base = distinct 3-gram shingles (unigram minhash degenerates:
    // the synthetic corpus has a ~31-word vocabulary, so unigram signatures
    // collide for nearly every pair) — the MEMOIZED docShingles substrate
    // shared with d4/d7/nv1/bp1 (dropping lang keeps the same distinct
    // (doc_id, sh) set, since lang is doc-functional): tokenize + shingle
    // + distinct runs once per (session, dir) across the whole family.
    // NOTE: no persist() anywhere here — a cached relation leaked from a
    // query function slows every LATER query in the session (CacheManager
    // plan-matching against the giant lineage); localCheckpoint instead.
    val sh = docShingles(s, dir).select($"doc_id", $"sh")
    val dict = graft.operators.GlobalRank.withRowNumber(
      sh.select($"sh").distinct(), Seq($"sh"), rn = "tid", nTotal = None)
    val tids = sh.join(broadcast(dict), "sh").select($"doc_id", $"tid")
    val sig = TextOps.minhashSignatures(tids).localCheckpoint()
    val bands = TextOps.lshBands(sig)
    val cand = bands.select($"doc_id".as("da"), $"band")
      .join(bands.select($"doc_id".as("db"), $"band"), Seq("band"))
      .filter($"da" < $"db").select($"da", $"db").distinct()
    // signature lookup joins stay shuffle-hash on doc_id: sig is per-doc
    // (fact-sized at 100 TB) — deliberately NOT broadcast
    val sa = sig.toDF(sig.columns.map(c => if (c == "doc_id") "da" else c + "a"): _*)
    val sb = sig.toDF(sig.columns.map(c => if (c == "doc_id") "db" else c + "b"): _*)
    val matches = (0 until 8).map(i =>
      when(col(s"mh${i}a") === col(s"mh${i}b"), 1L).otherwise(0L)).reduce(_ + _)
    cand.join(sa, "da").join(sb, "db")
      .withColumn("mh_matches", matches)
      .filter($"mh_matches" >= 6) // near-dup threshold: >= 6/8 signature agreement
      .select($"da", $"db", $"mh_matches",
        ($"mh_matches".cast("double") / 8.0).as("mh_sim"))
      .orderBy($"da", $"db")
  }
  val d2Sql: String = {
    val sigCols = TextOps.MinhashParams.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a*tid+$b) % $P) AS mh$i"
    }.mkString(", ")
    val bandSelects = (0 until 4).map { i =>
      s"SELECT doc_id, '$i:' || mh${2 * i} || '_' || mh${2 * i + 1} AS band FROM sig"
    }.mkString(" UNION ALL ")
    val matches = (0 until 8).map(i =>
      s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH dt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |pt AS (
       |  SELECT doc_id, s.pos AS pos, s.tok AS tok
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(toks, (x, i) -> struct_pack(pos := i, tok := x))) AS s
       |        FROM dt) t),
       |sh AS (SELECT DISTINCT doc_id, sh FROM (
       |         SELECT doc_id,
       |           tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
       |           lead(tok, 2) OVER w AS t2
       |         FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) q
       |       WHERE t2 IS NOT NULL),
       |dict AS (
       |  SELECT sh, CAST(ROW_NUMBER() OVER (ORDER BY sh) AS BIGINT) AS tid
       |  FROM (SELECT DISTINCT sh FROM sh) u),
       |ids AS (SELECT s.doc_id, d.tid FROM sh s JOIN dict d ON s.sh = d.sh),
       |sig AS (SELECT doc_id, $sigCols FROM ids GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id)
       |SELECT da, db, CAST($matches AS BIGINT) AS mh_matches,
       |  CAST($matches AS DOUBLE) / 8.0 AS mh_sim
       |FROM cand JOIN sig sa ON cand.da = sa.doc_id JOIN sig sb ON cand.db = sb.doc_id
       |WHERE $matches >= 6
       |ORDER BY da, db""".stripMargin
  }

  // D3: 16-bit SimHash per document over the distinct-token set.
  def d3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextOps.simhash(docTids(s, dir)).orderBy($"doc_id")
  }
  val d3Sql: String = {
    val sums = (0 until 16).map(j =>
      s"CAST(SUM((((tid*2654435761) >> $j) & 1)*2-1) AS BIGINT) AS s$j").mkString(", ")
    val hash = (0 until 16).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""$duckTokCtes,
       |dids AS (SELECT DISTINCT doc_id, tid FROM ids),
       |sums AS (SELECT doc_id, $sums FROM dids GROUP BY doc_id)
       |SELECT doc_id, CAST($hash AS BIGINT) AS simhash FROM sums ORDER BY doc_id""".stripMargin
  }

  // D4: token-3-gram Jaccard near-dup pairs within the same language
  // (shingle equijoin generates candidates; |A∩B|/|A∪B| over distinct sets).
  /** Distinct (doc_id, lang, sh) 3-gram shingle table — the shared
    * candidate-generation substrate of n-gram dedup (d4) and eval-set
    * decontamination (d7): tokenize+shingle+distinct runs once per
    * (session, dir), like the tokenization and simhash memos. */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "docShingles") {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"lang", TextOps.tokens($"text").as("toks"))
        .filter(size($"toks") >= 3)
      docs.select($"doc_id", $"lang",
        explode(TextOps.shingles3($"toks")).as("sh")).distinct()
    }

  def d4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // shingle table feeds three consumers (per-doc counts + both sides of
    // the pair equijoin) — memoized checkpoint, never the CacheManager
    val sh = docShingles(s, dir)
    val n = sh.groupBy($"doc_id".as("nid")).agg(count(lit(1)).as("ns"))
    val c = sh.select($"doc_id".as("da"), $"lang", $"sh")
      .join(sh.select($"doc_id".as("db"), $"lang", $"sh"), Seq("lang", "sh"))
      .filter($"da" < $"db")
      .groupBy($"da", $"db").agg(count(lit(1)).as("c"))
    c.join(n.withColumnRenamed("nid", "da").withColumnRenamed("ns", "na"), "da")
      .join(n.withColumnRenamed("nid", "db").withColumnRenamed("ns", "nb"), "db")
      .withColumn("jacc", $"c".cast("double") / ($"na" + $"nb" - $"c").cast("double"))
      .filter($"c" >= 3 && $"jacc" >= 0.2)
      .select($"da", $"db", $"jacc")
      .orderBy($"da", $"db")
  }
  val d4Sql: String =
    """WITH dt AS (
      |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |pt AS (
      |  SELECT doc_id, lang, s.pos AS pos, s.tok AS tok
      |  FROM (SELECT doc_id, lang,
      |          unnest(list_transform(toks, (x, i) -> struct_pack(pos := i, tok := x))) AS s
      |        FROM dt) t),
      |sh AS (SELECT DISTINCT doc_id, lang, sh FROM (
      |         SELECT doc_id, lang,
      |           tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
      |           lead(tok, 2) OVER w AS t2
      |         FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) q
      |       WHERE t2 IS NOT NULL),
      |n AS (SELECT doc_id AS nid, COUNT(*) AS ns FROM sh GROUP BY 1),
      |c AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT da, db, CAST(c AS DOUBLE) / CAST(na.ns + nb.ns - c AS DOUBLE) AS jacc
      |FROM c JOIN n na ON c.da = na.nid JOIN n nb ON c.db = nb.nid
      |WHERE c >= 3 AND CAST(c AS DOUBLE) / CAST(na.ns + nb.ns - c AS DOUBLE) >= 0.2
      |ORDER BY da, db""".stripMargin

  // DS1: duplicated-span detection — for each same-lang doc pair sharing
  // 3-gram shingles at aligned offsets, the LONGEST consecutive run of
  // matching shingles (the substring-dedup primitive: a run of r shingles
  // = a common token substring of r+2). Runs are found with the islands
  // trick: matches with equal offset delta (pa−pb) and consecutive pa get
  // one island id pa−row_number — pure integer windows, no quadratic
  // string comparison; candidate generation is the same positioned-shingle
  // equijoin family as d4, never O(n²) over docs.
  private val Ds1FreqCap = 8

  /** Core of ds1, reusable on any (doc_id, lang, text) frame: positioned
    * shingles straight from the token array (posexplode of the in-row
    * shingles3 transform — no per-doc window sort); shingle index vs token
    * position is an offset-by-one the delta/island arithmetic never sees.
    * Shingle values repeated more than `freqCap` times WITHIN a doc are
    * dropped first: template self-repetition contributes k·m match rows
    * per pair (the quadratic term) but no cross-doc dup signal, so the cap
    * bounds the join fan-out at freqCap² per value. Property-tested
    * against a brute-force longest-common-substring reference (Ds1Spec).
    */
  def dupSpans(docs: DataFrame, minTokens: Long = 5, freqCap: Int = Ds1FreqCap): DataFrame = {
    // the within-doc frequency cap stays a COUNT WINDOW: the tempting
    // hash-agg shape (collect_list positions per (doc, shingle), filter,
    // re-explode) measured slower interleaved-A/B at sf0.1 (best 1.67 s
    // vs 1.33 s) — the list materialization + Generate costs more than
    // the window's sort at this group cardinality
    val psh = docs
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"),
        posexplode(TextOps.shingles3(col("toks"))).as(Seq("spos", "sh")))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("doc_id"), col("sh"))))
      .filter(col("cnt") <= freqCap).drop("cnt")
    // the self-join reads psh from both sides: checkpointing would save
    // the second tokenize+shingle+cap pass, but measured as a LOSS
    // (SCALING.md "r10 decision probes", ds1 row: 2.35 s sf1 best vs 2.08 s)
    // SHUFFLE_HASH, not the default sort-merge: both sides are the same
    // 2.6M-row positioned-shingle stream, and SMJ pays two full
    // per-partition sorts on the ~25-byte string key for a join that
    // emits ~1.25 rows per input row. Measured (Ds1Stage, sf1): SMJ
    // 2.95 s → SHJ 1.04 s for the identical 3,268,880-row match set;
    // hashing the shingle strings to longs on top of SHJ bought nothing
    // further (1.06 s), so the key stays the exact string. AQE skew-split
    // applies to SHJ (the d9 df lesson), so a hot boilerplate shingle
    // still splits.
    val m = psh.select(col("doc_id").as("da"), col("lang"), col("spos").as("pa"), col("sh"))
      .join(psh.select(col("doc_id").as("db"), col("lang"), col("spos").as("pb"), col("sh"))
          .hint("shuffle_hash"),
        Seq("lang", "sh"))
      .filter(col("da") < col("db"))
      .withColumn("delta", (col("pa") - col("pb")).cast("long"))
    // ONE mergeable hash aggregation per pair (SCALING.md "r10 decision
    // probes", ds1 row): matches collect as sorted (delta, pa) structs and
    // the longest consecutive run is a codegen'd array fold (pa strictly
    // increases within a delta: pb = pa−delta is unique per match, so run
    // detection is `pa = prev+1` under `delta = prevDelta`). The r9 rank
    // window over (da, db, delta) exchanged the match stream three times
    // and sorted every partition; this pays one exchange to (da, db) with
    // map-side partials and sorts only within-group arrays. Group size =
    // match rows per pair, bounded by the freqCap join fan-out.
    m.groupBy(col("da"), col("db"))
      .agg(sort_array(collect_list(struct(col("delta"),
        col("pa").cast("long").as("pa")))).as("ms"))
      .select(col("da"), col("db"), expr(
        """aggregate(ms,
          |  named_struct('best', 0L, 'cur', 0L,
          |               'pd', -9223372036854775808L, 'pp', -2L),
          |  (a, x) -> named_struct(
          |    'best', greatest(a.best,
          |      IF(x.delta = a.pd AND x.pa = a.pp + 1L, a.cur + 1L, 1L)),
          |    'cur', IF(x.delta = a.pd AND x.pa = a.pp + 1L, a.cur + 1L, 1L),
          |    'pd', x.delta, 'pp', x.pa),
          |  a -> a.best) + 2L""".stripMargin).as("max_dup_tokens"))
      .filter(col("max_dup_tokens") >= minTokens)
      .orderBy(col("da"), col("db"))
  }

  def ds1(s: SparkSession, dir: String): DataFrame =
    dupSpans(Tables.documents(s, dir))
  val ds1Sql: String =
    s"""$duckTokCtes,
       |psh AS (SELECT doc_id, lang, pos AS spos,
       |          tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
       |          lead(tok, 2) OVER w AS t2
       |        FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |ps AS (SELECT doc_id, lang, spos, sh FROM (
       |         SELECT doc_id, lang, spos, sh,
       |           COUNT(*) OVER (PARTITION BY doc_id, sh) AS cnt
       |         FROM psh WHERE t2 IS NOT NULL) c WHERE cnt <= $Ds1FreqCap),
       |m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.spos AS pa, b.spos AS pb
       |      FROM ps a JOIN ps b ON a.lang = b.lang AND a.sh = b.sh AND a.doc_id < b.doc_id),
       |runs AS (SELECT da, db, COUNT(*) AS run FROM (
       |           SELECT da, db, pa, pa - pb AS delta,
       |             pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS island
       |           FROM m) q GROUP BY da, db, delta, island)
       |SELECT da, db, MAX(run) + 2 AS max_dup_tokens
       |FROM runs GROUP BY da, db HAVING MAX(run) + 2 >= 5
       |ORDER BY da, db""".stripMargin

  // D6: SimHash near-dup pairs — candidates from 8-bit band equality (a
  // 16-bit simhash splits into two bands; near-dups agree on at least one),
  // verified by Hamming distance via the codegen'd bit_count(xor) built-in.
  // Candidate generation is two band equijoins, never O(n²).
  /** SimHash near-dup pairs with Hamming distance ≤ 1 (shared by d6 and the
    * c1/c2 clustering stages): band equijoin candidates + bit_count(xor)
    * verify. d6, c1 and c2 are stages of ONE dedup pipeline over the same
    * corpus, so the materialized pair table is [[memoized]]. At 100 TB
    * this intermediate IS what a pipeline persists between its pairing and
    * clustering stages.
    */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "simhashPairs")(simhashPairs0(s, dir))

  /** Doc count above which simhash candidate generation switches from the
    * four 16-bit chunk bands to the 20-combo 32-bit block keys (both exact
    * for hamming ≤ 3 — see [[simhashComboPairs]]). MEASURED end-to-end
    * (interleaved one-JVM A/B at local[32]; SCALING.md "r8 decision
    * probes" and "r9 decision probes", simhash rows). "syn" = uniform
    * chunks + a 129k true-pair skew block (the "banding knee probe"
    * corpus); "zipf" = the r9 SKEWED re-test the r8 dial
    * comment demanded — 20% of docs draw each chunk from a Zipf(1) head
    * over ranks 1..4095 (measured per-chunk self-match Σp² ≈ 5.7e-4,
    * ~37× uniform — the short-doc/boilerplate regime):
    *
    *   docs       band16    combo        docs        band16    combo
    *   50k real   1.29 s    4.34 s       200k zipf   0.42 s    5.11 s
    *   200k syn   0.51 s    5.48 s       500k zipf   2.12 s    7.48 s
    *   500k syn   1.31 s    7.89 s       1M   zipf   5.02 s   10.18 s
    *   1M   syn   2.01 s   11.54 s       2M   zipf  18.43 s   16.01 s
    *
    * Why band16 holds under uniform hashing: its false candidates
    * (4·n²/2¹⁷) are generated AND popcount-killed inside the join stage —
    * they never shuffle — while combo re-scans the hash table 40× (20
    * joins × 2 sides) and shuffles 20 keys/doc (~11.5 µs/doc linear);
    * the uniform-model crossover is n ≈ 6e6. Under the tested skew the
    * quadratic term inflates ~37× and the measured knee moves into
    * (1M, 2M) — combo first wins at the 2M row. The dial sits at the
    * LAST point where band16 still won under the worst tested skew (1M):
    * past the knee band16 is quadratic while an early combo switch costs
    * only its ~2–6× linear constant, so the dial errs low. Re-measure
    * under skew (or on the real corpus) before trusting band16 beyond
    * this on hotter-than-Zipf(1) data. (Immutable — SimhashGeometrySpec
    * calls [[simhashBand16Pairs]]/[[simhashComboPairs]] directly; a
    * sys.props dial would leak across a shared JVM, the r8-ADVICE KCore
    * lesson.) */
  private[llm] val simhashComboThreshold: Long = 1000000L

  private def simhashPairs0(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The per-doc hash feeds every band join side — materialize once via
    // localCheckpoint (not persist: CacheManager leak). The checkpoint
    // makes the geometry-dial count() below a metadata-cheap second job.
    val sh = TextOps.simhashChunks(docTids(s, dir)).localCheckpoint()
    if (sh.count() >= simhashComboThreshold) simhashComboPairs(s, sh)
    else simhashBand16Pairs(s, sh)
  }

  /** 4×16-bit chunk-equality banding — exact for hamming ≤ 3 over the
    * virtual 64-bit hash (pigeonhole: ≤3 bad bits leave ≥1 of 4 chunks
    * clean). Random-collision candidates 4·n²/2¹⁷: the right shape below
    * the banding knee, superlinear above it. */
  private[llm] def simhashBand16Pairs(s: SparkSession,
      sh: DataFrame): DataFrame = {
    import s.implicits._
    def side(p: String) = sh.select(($"doc_id".as(s"d$p") +:
      TextOps.ChunkParams.indices.map(c => col(s"sh$c").as(s"sh$c$p"))): _*)
    // Exactly-once multi-index rule: band c emits a pair only when c is
    // the FIRST band where the chunks agree (all earlier bands differ).
    // Every near-dup pair has >=1 equal chunk (pigeonhole), and exactly
    // one first equal chunk — so the union needs NO distinct. The
    // previous shape distinct'ed the full candidate set (10 wide columns,
    // ~n²/65536 rows per band) BEFORE the cheap popcount verify; that
    // distinct shuffle was the dominant superlinear term of the sf1
    // decade (measured slope 1.08 with it, the verify itself is
    // bit_count(xor) — codegen'd, pennies per candidate).
    val hamming = TextOps.ChunkParams.indices.map(c =>
      bit_count(col(s"sh${c}a").bitwiseXOR(col(s"sh${c}b")))).reduce(_ + _).cast("long")
    TextOps.ChunkParams.indices.map { c =>
      val firstMatch = (0 until c)
        .map(k => col(s"sh${k}a") =!= col(s"sh${k}b"))
        .foldLeft(col(s"sh${c}a") === col(s"sh${c}b"))(_ && _)
      side("a").join(side("b"), firstMatch && $"da" < $"db")
        .select($"da", $"db", hamming.as("hamming"))
    }.reduce(_ unionByName _)
      .filter($"hamming" <= 3)
      .select($"da", $"db", $"hamming")
  }

  /** Combination banding (the multi-index scheme of Manku/Jain/Das Sarma,
    * WWW'07 §3): split the 64-bit hash into SIX blocks (11,11,11,11,10,10
    * bits); with ≤3 bad bits at most 3 blocks are dirty, so ≥3 of 6 are
    * clean and at least one of the C(6,3)=20 3-block COMBINATIONS matches
    * exactly — each combo key is a packed ≤33-bit long, so the equijoin
    * collision rate is 20·n²/2³³ where the 16-bit chunk bands pay
    * 4·n²/2¹⁷: a 13,000× candidate cut, bought with a flat 20-way union.
    * Exactly-once by the same first-match rule as the 4-band shape (emit
    * at combo t only when combos 0..t−1 all differ — every qualifying
    * pair has exactly one first clean combo, so no distinct). Output is
    * the same exact hamming ≤ 3 pair set: the geometry is a plan choice,
    * never a semantic one. */
  private[llm] def simhashComboPairs(s: SparkSession, sh: DataFrame): DataFrame = {
    import s.implicits._
    val widths = Seq(11, 11, 11, 11, 10, 10)
    val offs = widths.scanLeft(0)(_ + _)
    // block q = bits [offs(q), offs(q)+width) of the virtual 64-bit hash,
    // where bit (16c + j) is bit j of chunk sh_c — gathered by shift/mask
    // straddling chunk boundaries.
    def blockCol(q: Int): Column = {
      val (lo, hi) = (offs(q), offs(q) + widths(q))
      (0 until 4).flatMap { c =>
        val (cLo, cHi) = (16 * c, 16 * c + 16)
        val (oLo, oHi) = (math.max(lo, cLo), math.min(hi, cHi))
        if (oLo >= oHi) None
        else Some(shiftright(col(s"sh$c"), oLo - cLo)
          .bitwiseAND(lit((1L << (oHi - oLo)) - 1)) * lit(1L << (oLo - lo)))
      }.reduce(_ + _)
    }
    val combos = (0 until 6).combinations(3).toSeq // lexicographic, stable
    val keyed = sh.select(
      (col("doc_id") +: (0 until 4).map(c => col(s"sh$c"))) ++
        (0 until 6).map(q => blockCol(q).as(s"b$q")): _*)
    val withKeys = keyed.select(
      (col("doc_id") +: (0 until 4).map(c => col(s"sh$c"))) ++
        combos.zipWithIndex.map { case (Seq(i, j, k), t) =>
          ((col(s"b$i") * lit(1L << 22)) + (col(s"b$j") * lit(1L << 11)) +
            col(s"b$k")).as(s"k$t")
        }: _*)
    def side(p: String) = withKeys.select(
      (col("doc_id").as(s"d$p") +:
        (0 until 4).map(c => col(s"sh$c").as(s"sh$c$p"))) ++
        combos.indices.map(t => col(s"k$t").as(s"k$t$p")): _*)
    val hamming = (0 until 4).map(c =>
      bit_count(col(s"sh${c}a").bitwiseXOR(col(s"sh${c}b")))).reduce(_ + _).cast("long")
    combos.indices.map { t =>
      val firstMatch = (0 until t)
        .map(u => col(s"k${u}a") =!= col(s"k${u}b"))
        .foldLeft(col(s"k${t}a") === col(s"k${t}b"))(_ && _)
      side("a").join(side("b"), firstMatch && $"da" < $"db")
        .select($"da", $"db", hamming.as("hamming"))
    }.reduce(_ unionByName _)
      .filter($"hamming" <= 3)
      .select($"da", $"db", $"hamming")
  }

  def d6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simhashPairs(s, dir).orderBy($"da", $"db")
  }

  // D6C: the OUTPUT-BOUNDED variant of d6 (r8 verdict directive 7) — per
  // doc, its 5 nearest near-dup partners by (hamming asc, partner asc).
  // d6's exact pair stream is output-bound at scale (2.56M rows at sf1,
  // growing with true duplication): when the role is dedup-CANDIDATE
  // generation, a per-doc cap keeps every downstream stage bounded at
  // any corpus size. The cap is a MERGEABLE bottom-k aggregate
  // (Aggregators.BottomKPairs: ≤k (hamming, partner) pairs per doc ride
  // the shuffle) — never a rank window, which would sort every doc's
  // full candidate list in one task. The exact d6 stays the default; the
  // oracle enumerates ALL pairs naively and ranks with ROW_NUMBER, so a
  // hash match proves the banded generator + mergeable cap lose nothing.
  private val D6cK = 5
  def d6c(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = simhashPairs(s, dir)
    val sym = pairs.select($"da".as("doc_id"), $"db".as("partner"), $"hamming")
      .unionByName(
        pairs.select($"db".as("doc_id"), $"da".as("partner"), $"hamming"))
    val bk = udaf(new graft.functions.Aggregators.BottomKPairs(D6cK))
    sym.groupBy($"doc_id")
      .agg(bk($"hamming".cast("double"), $"partner").as("top"))
      .select($"doc_id", explode($"top").as("p"))
      .select($"doc_id", $"p._2".as("partner"), $"p._1".cast("long").as("hamming"))
      .orderBy($"doc_id", $"partner")
  }

  val d6cSql: String =
    s"""$duckTokCtes,
       |$chunkPairCtesNaive,
       |sym AS (SELECT da AS doc_id, db AS partner, hamming FROM pairs
       |        UNION ALL SELECT db, da, hamming FROM pairs),
       |rk AS (SELECT doc_id, partner, hamming,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id
       |                            ORDER BY hamming, partner) AS rn
       |       FROM sym)
       |SELECT doc_id, partner, hamming FROM rk WHERE rn <= $D6cK
       |ORDER BY doc_id, partner""".stripMargin

  // C1: dedup CLUSTERING — the transitive closure of the simhash near-dup
  // pairs via distributed connected components (min-label propagation,
  // graft.operators.ConnectedComponents), then one row per duplicate group:
  // cluster_id = the canonical keeper (min doc_id), group size, max member.
  /** Component table (v, root) of the simhash near-dup graph — the third
    * stage of the ONE dedup pipeline c1/c2 report on, so it is memoized
    * like the pair table: label propagation runs once, both consumers join
    * against the checkpointed result. (run() already checkpoints its labels
    * every round, so the memo adds no extra materialization cost.) */
  private def ccComp(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "ccComp") {
      graft.operators.ConnectedComponents.run(
        simhashPairs(s, dir).select(col("da").as("a"), col("db").as("b")))
    }


  // D6B: the 128-bit scale variant of d6 — same SimHash construction with
  // EIGHT 16-bit chunks, banded as four 32-bit chunk-PAIRS. Pigeonhole is
  // unchanged (hamming <= 3 over 4 bands leaves one band clean), but each
  // band now keys on 2^32 buckets instead of 2^16: random-collision
  // candidate volume is n^2/2^32 per band, so the knee d6's 65,536-bucket
  // bands hit near 65k docs per chunk value moves out past any
  // realistic corpus — the "band width as a function of corpus size"
  // dial made concrete (VERDICT r5 #2), and MEASURED, not argued:
  // SCALING.md "banding knee probe" — at n=300k
  // uniform docs the 16-bit geometry emits 2.8M false candidates
  // (matching the 4·n²/2¹⁷ prediction) while the 32-bit geometry emits
  // 38, both atop an identical 129,024 true-pair floor from a skewed
  // near-dup block. Exactly-once first-equal-band
  // emission as in d6 (no distinct); completeness proven the d9 way: the
  // DuckDB oracle enumerates ALL pairs and filters by 128-bit hamming.
  def d6b(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = TextOps.simhashChunks(docTids(s, dir), TextOps.ChunkParams8)
      .localCheckpoint()
    val nC = TextOps.ChunkParams8.indices
    def side(p: String) = sh.select(($"doc_id".as(s"d$p") +:
      nC.map(c => col(s"sh$c").as(s"sh$c$p"))): _*)
    val hamming = nC.map(c =>
      bit_count(col(s"sh${c}a").bitwiseXOR(col(s"sh${c}b")))).reduce(_ + _).cast("long")
    def bandEq(band: Int, neg: Boolean) = {
      val (c0, c1) = (2 * band, 2 * band + 1)
      if (neg) col(s"sh${c0}a") =!= col(s"sh${c0}b") || col(s"sh${c1}a") =!= col(s"sh${c1}b")
      else col(s"sh${c0}a") === col(s"sh${c0}b") && col(s"sh${c1}a") === col(s"sh${c1}b")
    }
    (0 until 4).map { band =>
      val firstMatch = (0 until band).map(bandEq(_, neg = true))
        .foldLeft(bandEq(band, neg = false))(_ && _)
      side("a").join(side("b"), firstMatch && $"da" < $"db")
        .select($"da", $"db", hamming.as("hamming"))
    }.reduce(_ unionByName _)
      .filter($"hamming" <= 3)
      .orderBy($"da", $"db")
  }

  val d6bSql: String = {
    val P = graft.text.TextOps.ChunkPrime
    val params = graft.text.TextOps.ChunkParams8
    val sums = params.zipWithIndex.flatMap { case ((a, b), c) =>
      (0 until 16).map(j =>
        s"CAST(SUM(((((tid*$a+$b) % $P) >> $j) & 1)*2-1) AS BIGINT) AS s${c}_$j")
    }.mkString(", ")
    val chunks = params.indices.map { c =>
      (0 until 16).map(j => s"(CASE WHEN s${c}_$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString("CAST(", " + ", s" AS BIGINT) AS sh$c")
    }.mkString(", ")
    val ham = params.indices
      .map(c => s"bit_count(xor(a.sh$c, b2.sh$c))").mkString(" + ")
    s"""$duckTokCtes,
       |dids AS (SELECT DISTINCT doc_id, tid FROM ids),
       |sums AS (SELECT doc_id, $sums FROM dids GROUP BY doc_id),
       |sh AS (SELECT doc_id, $chunks FROM sums)
       |SELECT a.doc_id AS da, b2.doc_id AS db, CAST($ham AS BIGINT) AS hamming
       |FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
       |WHERE $ham <= 3
       |ORDER BY da, db""".stripMargin
  }

  // Pairs alone aren't a dedup pipeline; keep-one-per-GROUP needs this stage.
  def c1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comp = ccComp(s, dir)
    comp.groupBy($"root".as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max($"v").as("max_id"))
      .filter($"n_docs" >= 2)
      .orderBy($"cluster_id")
  }
  /** Shared SQL for the chunked-simhash pair table (d6 + the c1/c2
    * closure): mirrors [[TextOps.simhashChunks]] mixer-for-mixer so DuckDB
    * reproduces the Spark hashes bit-exactly. Two candidate generators:
    * `naive = true` enumerates ALL ordered doc pairs and filters by
    * hamming — the independent oracle d6 is checked against, so a hash
    * match PROVES the banded join's candidate set is complete (pigeonhole:
    * ≤3 differing bits over 4 chunks leaves one chunk equal, so banding
    * loses nothing). `naive = false` mirrors the band joins — used by the
    * c1/c2 recursive-closure oracles where the pair table (already proven
    * equal by d6) feeds a much heavier recursive CTE. */
  private def chunkPairCtes: String = chunkPairCtes0(naive = false)
  private def chunkPairCtesNaive: String = chunkPairCtes0(naive = true)
  private def chunkPairCtes0(naive: Boolean): String = {
    val sums = graft.text.TextOps.ChunkParams.zipWithIndex.flatMap { case ((a, b), c) =>
      (0 until 16).map(j =>
        s"CAST(SUM(((((tid*$a+$b) % ${graft.text.TextOps.ChunkPrime}) >> $j) & 1)*2-1) AS BIGINT) AS s${c}_$j")
    }.mkString(", ")
    val chunks = graft.text.TextOps.ChunkParams.indices.map { c =>
      (0 until 16).map(j => s"(CASE WHEN s${c}_$j > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString("CAST(", " + ", s" AS BIGINT) AS sh$c")
    }.mkString(", ")
    val shCols = graft.text.TextOps.ChunkParams.indices
      .map(k => s"a.sh$k AS sh${k}a, b2.sh$k AS sh${k}b").mkString(", ")
    val bandJoins =
      if (naive)
        s"""  SELECT a.doc_id AS da, b2.doc_id AS db, $shCols
           |  FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id""".stripMargin
      else graft.text.TextOps.ChunkParams.indices.map { c =>
        s"""  SELECT a.doc_id AS da, b2.doc_id AS db, $shCols
           |  FROM sh a JOIN sh b2 ON a.sh$c = b2.sh$c AND a.doc_id < b2.doc_id""".stripMargin
      }.mkString("\n  UNION\n")
    val ham = graft.text.TextOps.ChunkParams.indices
      .map(c => s"bit_count(xor(sh${c}a, sh${c}b))").mkString(" + ")
    s"""dids AS (SELECT DISTINCT doc_id, tid FROM ids),
       |sums AS (SELECT doc_id, $sums FROM dids GROUP BY doc_id),
       |sh AS (SELECT doc_id, $chunks FROM sums),
       |cand AS (
       |$bandJoins),
       |pairs AS (
       |  SELECT da, db, CAST($ham AS BIGINT) AS hamming FROM cand
       |  WHERE $ham <= 3)""".stripMargin
  }

  val d6Sql: String =
    s"""$duckTokCtes,
       |$chunkPairCtesNaive
       |SELECT da, db, hamming FROM pairs
       |ORDER BY da, db""".stripMargin

  // C2: the dedup DROP LIST — every doc that loses to its cluster's
  // canonical keeper (min doc_id), via ConnectedComponents.clusters over
  // the full documents table (isolated docs keep themselves, never appear).
  // This is the row set a 100 TB dedup pass would anti-join against the
  // corpus to materialize the kept corpus.
  def c2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    graft.operators.ConnectedComponents.clustersFromComp(ccComp(s, dir), docs)
      .filter($"cluster_id" =!= $"doc_id")
      .orderBy($"doc_id")
  }

  // Oracle for C1/C2: same simhash-pair CTEs, then transitive closure by
  // recursive CTE (reach = every (node, reachable) pair; root = min reach).
  private val ccCompCtes: String =
    s"""${duckTokCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$chunkPairCtes,
       |edges AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
       |nodes AS (SELECT DISTINCT a AS v FROM edges),
       |reach(v, u) AS (
       |  SELECT v, v FROM nodes
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a),
       |comp AS (SELECT v, MIN(u) AS root FROM reach GROUP BY v)""".stripMargin

  val c1Sql: String =
    s"""$ccCompCtes
       |SELECT root AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs, MAX(v) AS max_id
       |FROM comp GROUP BY root HAVING COUNT(*) >= 2
       |ORDER BY cluster_id""".stripMargin

  val c2Sql: String =
    s"""$ccCompCtes
       |SELECT v AS doc_id, root AS cluster_id FROM comp WHERE root <> v
       |ORDER BY doc_id""".stripMargin

  // CS1: QUALITY-AWARE canonical selection — the dedup pipeline's final
  // choice done right: per near-dup cluster (c1's simhash components),
  // keep the HIGHEST-lr1-score member, not the lowest id (min-id keeps
  // whichever crawl shard arrived first; argmax-quality keeps the best
  // copy — the choice production dedup actually wants). Composition of
  // two existing verified stages over the memoized component table; the
  // argmax is one struct-min aggregate ((−score, doc_id) lexicographic —
  // score desc, id asc on ties), map-side partial, no per-cluster window.
  def cs1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comp = ccComp(s, dir)
    val sc = QualityQueries.lrScored(s, dir).select($"doc_id", $"score")
    comp.join(sc, comp("v") === sc("doc_id"))
      .groupBy($"root".as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(struct((-$"score").as("ns"), $"doc_id".as("d"))).as("m"))
      .filter($"n_docs" >= 2)
      .select($"cluster_id", $"n_docs", $"m.d".as("keeper"),
        round(-$"m.ns", 6).as("keeper_score"),
        ($"n_docs" - 1).as("n_dropped"))
      .orderBy($"cluster_id")
  }

  /** cs1's score+argmax tail over a component table named `compTable` —
    * shared verbatim between the recursive-CTE oracle (compTable = the
    * `comp` CTE) and the iterative oracle's final (compTable = the
    * materialized `cc_comp` temp table), so the two formulations cannot
    * drift apart. */
  private def cs1Tail(compTable: String): String =
    s"""pt2 AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
       |  FROM documents),
       |m2 AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(length(tok)) AS BIGINT) AS chars,
       |    CAST(SUM(CASE WHEN tok IN (${QualityQueries.stopsSqlList}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       |    COUNT(DISTINCT tok) AS n_types
       |  FROM pt2 GROUP BY doc_id),
       |sc AS (
       |  SELECT doc_id,
       |    1.0 / (1.0 + exp(-(0.2
       |      + 0.8 * ((CAST(n_words AS DOUBLE) - 50.0) / 50.0)
       |      + 2.0 * (CAST(chars AS DOUBLE) / CAST(n_words AS DOUBLE) - 4.5)
       |      + -3.0 * (CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) - 0.25)
       |      + 4.0 * (CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE) - 0.5)))) AS score
       |  FROM m2),
       |r AS (
       |  SELECT comp.root, comp.v, sc.score,
       |    ROW_NUMBER() OVER (PARTITION BY comp.root ORDER BY sc.score DESC, comp.v) AS rk,
       |    COUNT(*) OVER (PARTITION BY comp.root) AS n_docs
       |  FROM $compTable comp JOIN sc ON comp.v = sc.doc_id)
       |SELECT root AS cluster_id, CAST(n_docs AS BIGINT) AS n_docs, v AS keeper,
       |  round(score, 6) AS keeper_score, CAST(n_docs - 1 AS BIGINT) AS n_dropped
       |FROM r WHERE rk = 1 AND n_docs >= 2 ORDER BY cluster_id""".stripMargin

  val cs1Sql: String =
    s"""$ccCompCtes,
       |${cs1Tail("comp")}""".stripMargin

  /** ITERATIVE DuckDB oracle for the c1/c2/cs1 transitive closure — the
    * sf1-feasible formulation of [[ccCompCtes]] (r8 verdict directive 4).
    *
    * The recursive CTE materializes `reach` = every (node, reachable-node)
    * pair, which is QUADRATIC in cluster size and blows the sf1 wall cap
    * (16–18 s at sf0.1 already); min-label propagation converges to the
    * identical `comp(v, root = min reachable)` table in O(diameter) rounds
    * of cheap equijoins. scripts/selfcheck.py drives the loop (DuckDB has
    * no procedural SQL): it materializes `cc_pairs` via [[ccIterPairsSql]],
    * derives `cc_edges`/`cc_comp`, re-runs the relaxation round until the
    * changed-row count hits zero, then evaluates each query's
    * `Query.iterOracle` SELECT against the converged `cc_comp` — whose
    * schema (v, root) and contents equal the recursive oracle's `comp` by
    * the fixpoint argument above (and empirically: both formulations are
    * hash-checked against Spark at the sf0.01 gate). The SQL lives HERE,
    * next to the recursive forms it must mirror, and reaches Python via
    * Verify's `oracle_iter.json` dump — one source of truth. */
  val ccIterPairsSql: String =
    s"""CREATE TEMP TABLE cc_pairs AS
       |$duckTokCtes,
       |$chunkPairCtes
       |SELECT da, db FROM pairs""".stripMargin

  /** The min-label relaxation loop over the materialized pair table —
    * selfcheck.py runs `edges` then `init` once, then alternates `round` /
    * `changed` (promoting cc_next → cc_comp between rounds, a pure
    * table-name swap kept Python-side) until `changed` returns 0. Roots
    * only ever decrease and the node set is fixed, so the fixpoint is the
    * per-component minimum — exactly the recursive `comp`. */
  val ccIterLoop: Map[String, String] = Map(
    "edges" ->
      """CREATE TEMP TABLE cc_edges AS
        |SELECT da AS a, db AS b FROM cc_pairs UNION SELECT db, da FROM cc_pairs""".stripMargin,
    "init" ->
      "CREATE TEMP TABLE cc_comp AS SELECT DISTINCT a AS v, a AS root FROM cc_edges",
    "round" ->
      """CREATE TEMP TABLE cc_next AS
        |SELECT v, MIN(root) AS root FROM (
        |  SELECT e.a AS v, c.root FROM cc_edges e JOIN cc_comp c ON e.b = c.v
        |  UNION ALL SELECT v, root FROM cc_comp) u
        |GROUP BY v""".stripMargin,
    "changed" ->
      "SELECT COUNT(*) FROM cc_next n JOIN cc_comp c USING (v) WHERE n.root <> c.root",
  )

  // Final SELECTs over the converged `cc_comp(v, root)`: each query's
  // `iterOracle`, the same expressions as its recursive oracle's tail,
  // comp → cc_comp.
  val c1IterSql: String =
    """SELECT root AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs, MAX(v) AS max_id
      |FROM cc_comp GROUP BY root HAVING COUNT(*) >= 2
      |ORDER BY cluster_id""".stripMargin
  val c2IterSql: String =
    """SELECT v AS doc_id, root AS cluster_id FROM cc_comp WHERE root <> v
      |ORDER BY doc_id""".stripMargin
  val cs1IterSql: String = s"""WITH ${cs1Tail("cc_comp")}""".stripMargin

  // D5: embedding-cosine near-dup pairs within a coarse partition (label =
  // IVF cell) — unrolled dot products for cross-engine bit-exactness.
  // Pair generation goes through BoundedSelfJoin so a hot label fans its
  // (irreducible, semantics-mandated) quadratic across ~ (n/cap)² tasks
  // instead of serializing it in one; the pair SET is identical, so the
  // exact oracle below is unchanged.
  //
  // r10 (SCALING.md "r10 decision probes", d5 row): cap 4096 → 512.
  // The cap is not only the detonation guard — it is the PARALLELISM
  // dial: this corpus has 10 fixed labels, so at sf1 a 2,180-row label
  // fit one 4096-chunk and the 20M-pair job ran as 10 tasks on 32 cores;
  // 512-chunks fan the same exact pair set over ~15 chunk-pair tasks per
  // label (sf1 pair stage 1.04 → 0.59 s). The filtered pairs are then
  // localCheckpoint'ed before the final sort because RangePartitioning
  // SAMPLES its child — an un-materialized 20M-pair pipeline under a
  // global orderBy executes twice (measured: 4.05 s → 0.83 s from the
  // cap, → 0.71 s with the checkpoint; the output is ~9k rows, so the
  // materialization is pennies).
  def d5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    graft.operators.BoundedSelfJoin.pairs(e, "label", "vec_id", cap = 512)
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb"),
        (VectorOps.dotNative($"a.embedding", $"b.embedding") /
          (sqrt($"a.n2") * sqrt($"b.n2"))).as("cos"))
      .filter($"cos" > 0.4)
      .localCheckpoint()
      .orderBy($"va", $"vb")
  }
  val d5Sql: String =
    s"""SELECT va, vb, cos FROM (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    ${VectorOps.cosineSqlDuck("a.embedding", "b.embedding", 64)} AS cos
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id) t
       |WHERE cos > 0.4 ORDER BY va, vb""".stripMargin

  // S1: brute-force cosine top-k against the vec_id=0 query vector.
  def s1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qe"), $"n2".as("qn2"))
    graft.core.ScalarSub.withScalars(e, q)
      .withColumn("cos", VectorOps.dotNative($"embedding", $"qe") / (sqrt($"n2") * sqrt($"qn2")))
      .select($"vec_id", $"cos")
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }
  val s1Sql: String =
    s"""SELECT vec_id, cos FROM (
       |  SELECT a.vec_id, ${VectorOps.cosineSqlDuck("a.embedding", "q.qe", 64)} AS cos
       |  FROM embeddings a, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q) t
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  // S2: sign-LSH bucketed ANN — 8-bit hyperplane bucket, search only the
  // query's bucket (the scale path: bucket equijoin instead of full scan).
  def s2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("bk", expr(VectorOps.bucketSqlSpark("embedding", 8)))
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), $"bk".as("qbk"), $"n2".as("qn2"))
    e.join(broadcast(q), $"bk" === $"qbk")
      .withColumn("cos", VectorOps.dotNative($"embedding", $"qe") / (sqrt($"n2") * sqrt($"qn2")))
      .select($"vec_id", $"cos")
      .orderBy($"cos".desc, $"vec_id")
      .limit(5)
  }
  val s2Sql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${VectorOps.bucketSqlDuck("embedding", 8)} AS bk
       |  FROM embeddings),
       |q AS (SELECT embedding AS qe, bk AS qbk FROM b WHERE vec_id = 0)
       |SELECT vec_id, cos FROM (
       |  SELECT a.vec_id, ${VectorOps.cosineSqlDuck("a.embedding", "q.qe", 64)} AS cos
       |  FROM b a, q WHERE a.bk = q.qbk) t
       |ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin

  // S3: IVF-style ANN — partition vectors into cells around corpus-sized
  // centroids (deterministic seeds: vec_id 1..k), search ONLY the query's
  // cell. The scale path for billion-vector ANN: the assignment pass is a
  // broadcast cross join against k centroids + one per-vector argmax, and
  // the probe touches ~1/k of the data.
  /** Target IVF cell POPULATION. The centroid count is
    * k = max(4, ceil(n / ivfCellTarget)) — k grows ∝ corpus so the
    * per-cell population (and therefore sem1/knn1's within-cell pair work,
    * which is quadratic in it) stays CONSTANT at any scale: pair volume is
    * n²/k = n·ivfCellTarget, linear in n. The r9 shape pinned k = 4, which
    * made sem1/knn1 the two steepest decade slopes in the inventory (0.81 /
    * 0.93 — quadratic within-cell work with a cell count that never grows).
    * Probed interleaved one-JVM A/B at sf0.1/sf1 (SCALING.md "r10
    * decision probes", IVF row). 256 keeps the gate SF (sf0.01, n=500) at the
    * k=4 floor — assignment quality there is seed-limited either way — and
    * puts sf1 (n=20k) at k=79 / ~253 rows per cell, comfortably under
    * BoundedSelfJoin's 4096 chunk cap. The n·k assignment itself goes
    * through a coarse quantizer once k outgrows [[ivfTwoLevelMin]]
    * (hierarchical IVF, [[ivfCellsAt]]) so assignment work stays
    * O(n·√k) at any corpus size. */
  private[llm] val ivfCellTarget: Long = 256L
  private[llm] def ivfK(n: Long): Long =
    math.max(4L, math.ceil(n.toDouble / ivfCellTarget).toLong)

  /** Two-level assignment threshold (r11, VERDICT r10 directive 1): above
    * this k, [[ivfCellsAt]] routes each vector through ⌈√k⌉ coarse
    * centroids and scores only the winning coarse cell's ~√k fine
    * centroids: per-vector assignment work drops k → 2·√k dot products
    * (sublinear in k — the one structural 100-TB term VERDICT r10 left
    * open), and the only codebook that must reach every row as a scalar
    * is the √k-row coarse one, broadcast-sized at ANY corpus (√(4·10⁶) ≈
    * 2000 rows at the 10⁹-vector regime).
    *
    * The threshold IS the measured crossover (OPTIMIZATION_r11.md §2, sf1,
    * interleaved noop-forced assignment stage, best-of-3): flat wins at
    * k=79 (0.32 vs 0.47 s — the coarse route's extra stages cost more
    * than the ~k dot products it saves while √k ≈ k/8), two-level wins
    * from k=316 up (0.81 vs 0.51 s) and the gap is an order of magnitude
    * by k=5056 (11.3 vs 1.0 s, flat ∝ k, two-level ≈ flat-at-√k). Below
    * the crossover the flat n·k argmax is kept, which also keeps EVERY
    * shipped SF bit-identical to the r10 cell layout (sf0.01 k=4,
    * sf0.1 k=8, sf1 k=79) — the two-level geometry engages at n ≳ 65k
    * vectors where it is strictly faster. */
  private[llm] val ivfTwoLevelMin: Long = 256L
  private[llm] def ivfCoarseK(k: Long): Long =
    if (k > ivfTwoLevelMin) math.ceil(math.sqrt(k.toDouble)).toLong else 1L
  /** Fine-codebook rows past which the fine-stage join flips from
    * broadcast to SHUFFLE_HASH on the coarse-cell key: k·(64 floats + ids)
    * ≈ 300 B/row stays comfortably under broadcast limits to ~4M centroids
    * (a 10⁹-vector corpus at [[ivfCellTarget]]); past that the fine
    * codebook is hash-partitioned by coarse cell and the vector stream
    * shuffles once on its routed cell instead — linear, never a growing
    * broadcast. Identical output either way (ShapeEquivalenceSpec asserts
    * it). */
  private[llm] val ivfFineShuffleMinK: Long = 4L << 20

  /** Centroid frame (cid, ce, cn2) at the corpus-sized k — memoized: the
    * count that sizes k and the centroid scan both run once per (session,
    * dir) and serve s3/s4/s5/sem1/knn1 together. */
  private def ivfCents(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "ivfCents") {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      ivfCentsAt(s, e, ivfK(e.count()))
    }
  private[llm] def ivfCentsAt(s: SparkSession, e: DataFrame, k: Long): DataFrame = {
    import s.implicits._
    e.filter($"vec_id".between(1, k))
      .select($"vec_id".cast("long").as("cid"), $"embedding".as("ce"),
        VectorOps.dotNative($"embedding", $"embedding").as("cn2"))
  }

  /** IVF cell assignment shared by s3/s5 (probe) and s4 (update): nearest
    * of the k corpus-sized centroids by cosine, deterministic cid tiebreak.
    * Memoized — one assignment pass serves every pipeline stage, and any
    * change to the assignment semantics changes all of them together.
    * Argmax is a map-side-combining max_by over struct(ccos, -cid) — the
    * crossJoin output is clustered by vec_id, so the partial aggregate
    * collapses k rows to 1 BEFORE the exchange (the r9 row_number window
    * shuffled all n·k rows with the 64-dim embedding riding each one). */
  private def ivfCells(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "ivfCells") {
      ivfCellsAt(s, Tables.embeddings(s, dir), ivfCents(s, dir))
    }
  /** `mode`: "auto" picks flat at or below [[ivfTwoLevelMin]] and
    * two-level with a broadcast fine stage above it (SHUFFLE_HASH past
    * [[ivfFineShuffleMinK]]); "flat" / "twolevel" / "twolevel-shuffle"
    * force an arm at ANY k — spec-only (ShapeEquivalenceSpec). */
  private[llm] def ivfCellsAt(s: SparkSession, e: DataFrame,
      cents: DataFrame, mode: String = "auto"): DataFrame = {
    import s.implicits._
    val k = cents.count()
    val kc = mode match {
      case "flat" => 1L
      case "twolevel" | "twolevel-shuffle" =>
        math.max(1L, math.ceil(math.sqrt(k.toDouble)).toLong)
      case _ => ivfCoarseK(k)
    }
    if (kc <= 1)
      // flat n·k argmax — the cheap shape at gate-SF k (and the exact r10
      // layout there: sf0.001/sf0.01/sf0.1 outputs are bit-unchanged)
      e.crossJoin(broadcast(cents))
        .select($"vec_id", $"cid",
          (VectorOps.dotNative($"embedding", $"ce") /
            (sqrt(VectorOps.dotNative($"embedding", $"embedding")) * sqrt($"cn2")))
            .as("ccos"))
        .groupBy($"vec_id")
        .agg(max_by($"cid", struct($"ccos", -$"cid")).as("cell"))
        .select($"vec_id", $"cell")
    else {
      // TWO-LEVEL (coarse→fine) assignment, r11: the first ⌈√k⌉ centroids
      // double as the coarse quantizer (same deterministic-seed rule that
      // picks the fine codebook). Each fine centroid and each vector routes
      // to its nearest coarse centroid — (gcos desc, gcid asc) argmax, the
      // exact tiebreak discipline of the flat form — and the fine argmax
      // then scores ONLY the vector's coarse cell's ~√k fine centroids.
      // Per-vector work: kc + k/kc dots instead of k; the vector-side
      // coarse route is a pure codegen'd array fold over a √k-row scalar
      // (no aggregation, no exchange), so the whole assignment still pays
      // exactly one narrow (vec_id, cell) exchange, same as the flat form.
      val coarse = cents.filter($"cid" <= kc)
        .select($"cid".as("gcid"), $"ce".as("gce"), $"cn2".as("gcn2"))
      // fine centroid -> coarse cell: a k·√k centroid-table-sized job
      val fine = cents.crossJoin(broadcast(coarse))
        .select($"cid", $"ce", $"cn2", $"gcid",
          (VectorOps.dotNative($"ce", $"gce") /
            (sqrt($"cn2") * sqrt($"gcn2"))).as("gcos"))
        .groupBy($"cid")
        .agg(first($"ce").as("fce"), first($"cn2").as("fcn2"),
          max_by($"gcid", struct($"gcos", -$"gcid")).as("gcell"))
      // coarse codebook as ONE array-valued scalar (gcid-ascending, so a
      // strict > fold realizes the (gcos desc, gcid asc) argmax)
      val carr = coarse
        .agg(sort_array(collect_list(struct($"gcid", $"gce", $"gcn2"))).as("carr"))
      val vr = graft.core.ScalarSub.withScalars(
          e.select($"vec_id", $"embedding",
            VectorOps.dotNative($"embedding", $"embedding").as("vn2")), carr)
        .withColumn("vcell", aggregate($"carr",
          struct(lit(Double.NegativeInfinity).as("bc"), lit(0L).as("bg")),
          (acc, c) => {
            val g = VectorOps.dotNative($"embedding", c("gce")) /
              (sqrt($"vn2") * sqrt(c("gcn2")))
            when(g > acc("bc"), struct(g.as("bc"), c("gcid").as("bg")))
              .otherwise(acc)
          }).getField("bg"))
        .select($"vec_id", $"embedding", $"vn2", $"vcell")
      val fineSide =
        if (mode == "twolevel-shuffle" || k > ivfFineShuffleMinK)
          fine.hint("shuffle_hash")
        else broadcast(fine)
      vr.join(fineSide, $"vcell" === $"gcell")
        .select($"vec_id", $"cid",
          (VectorOps.dotNative($"embedding", $"fce") /
            (sqrt($"vn2") * sqrt($"fcn2"))).as("ccos"))
        .groupBy($"vec_id")
        .agg(max_by($"cid", struct($"ccos", -$"cid")).as("cell"))
        .select($"vec_id", $"cell")
    }
  }

  /** Shared oracle CTE prefix: corpus-sized k and the centroid frame —
    * the SQL twin of [[ivfK]]/[[ivfCentsAt]]. */
  // every CTE in the assignment chain is MATERIALIZED (the kc1Sql device):
  // DuckDB inlines plain CTEs at each reference, and the r11 two-level
  // chain references each level several times — the inlined expansion blew
  // the planner's cardinality estimates into bad_alloc reservations even
  // at sf0.01 (observed: knn1/sem1 OOM at <1 GB RSS on a 100 GiB limit)
  private val ivfCentsCte: String =
    s"""kv AS MATERIALIZED (SELECT GREATEST(4, CAST(CEIL(COUNT(*) / ${ivfCellTarget}.0) AS BIGINT)) AS k
       |       FROM embeddings),
       |c AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS ce
       |      FROM embeddings, kv WHERE vec_id BETWEEN 1 AND k)""".stripMargin

  /** Full oracle CTE chain up to the per-vector cell assignment — the SQL
    * twin of [[ivfCells]], shared by every IVF-family oracle. Mirrors the
    * r11 two-level routing exactly: kc = ⌈√k⌉ above [[ivfTwoLevelMin]],
    * else 1 — and at kc = 1 the chain DEGENERATES to the flat r10 form
    * (one coarse cell owns every fine centroid and every vector, so the
    * fine argmax scans all k), which keeps the gate-SF outputs
    * bit-identical to r10. All three cosines use the same unrolled
    * left-fold arithmetic as the Spark side, and every argmax tiebreak is
    * (cos DESC, id ASC). */
  private val ivfCellsSqlCtes: String = {
    val asgCos = VectorOps.cosineSqlDuck("vg.embedding", "f.fce", 64)
    // the coarse argmax folds mirror the Spark side's array fold exactly:
    // gcid-ascending list, strict >, so ties keep the earlier (smaller)
    // gcid — ≡ (gcos DESC, gcid ASC). A window/ROW_NUMBER formulation of
    // the same routing was measured to spray ~10k memory mappings per
    // query in DuckDB 1.0 at 32 threads (each extra window/materialized
    // stage multiplies per-thread buffer allocations), which drove the
    // whole-suite map count into the kernel's vm.max_map_count cliff and
    // OOM-failed UNRELATED queries nondeterministically; the fold is a
    // scalar expression — no new pipeline stage at all.
    def foldArgmax(vec: String): String = {
      val xCos = VectorOps.cosineSqlDuck(vec, "x.gce", 64)
      val aCos = VectorOps.cosineSqlDuck(vec, "a.gce", 64)
      s"list_reduce(gs, (a, x) -> CASE WHEN ($xCos) > ($aCos) THEN x ELSE a END).gcid"
    }
    s"""$ivfCentsCte,
       |g AS (SELECT cid AS gcid, ce AS gce FROM c, kv
       |      WHERE cid <= CASE WHEN k > $ivfTwoLevelMin
       |                        THEN CAST(CEIL(SQRT(k)) AS BIGINT) ELSE 1 END),
       |garr AS MATERIALIZED (
       |  SELECT list(struct_pack(gcid := gcid, gce := gce) ORDER BY gcid) AS gs FROM g),
       |f AS MATERIALIZED (SELECT cid, ce AS fce, ${foldArgmax("c.ce")} AS gcell
       |     FROM c, garr),
       |vg AS (SELECT e.vec_id, e.embedding, ${foldArgmax("e.embedding")} AS gcell
       |     FROM embeddings e, garr),
       |asg AS (SELECT vg.vec_id, f.cid, $asgCos AS ccos
       |        FROM vg JOIN f ON f.gcell = vg.gcell),
       |cells AS MATERIALIZED (SELECT vec_id, cid AS cell FROM (
       |            SELECT vec_id, cid,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rk
       |            FROM asg) r WHERE rk = 1)""".stripMargin
  }

  def s3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val cells = ivfCells(s, dir)
    val qcell = cells.filter($"vec_id" === 0).select($"cell".as("qcell"))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), VectorOps.dotNative($"embedding", $"embedding").as("qn2"))
    e.join(cells, "vec_id")
      .join(broadcast(qcell), $"cell" === $"qcell")
      .filter($"vec_id" =!= 0)
      .transform(graft.core.ScalarSub.withScalars(_, q))
      .select($"vec_id", (VectorOps.dotNative($"embedding", $"qe") /
        (sqrt(VectorOps.dotNative($"embedding", $"embedding")) * sqrt($"qn2"))).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(5)
  }
  val s3Sql: String = {
    val qCos = VectorOps.cosineSqlDuck("e.embedding", "q.qe", 64)
    s"""WITH $ivfCellsSqlCtes,
       |qc AS (SELECT cell AS qcell FROM cells WHERE vec_id = 0),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, $qCos AS cos
       |FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id, qc, q
       |WHERE cells.cell = qc.qcell AND e.vec_id <> 0
       |ORDER BY cos DESC, e.vec_id LIMIT 5""".stripMargin
  }

  // R1: ANN recall audit — the LSH bucket route (s2) measured against the
  // brute-force ground truth (s1) in ONE query: recall@10 as a checkable
  // number instead of a claim. Both rankings share one scored frame
  // (broadcast query vector, native codegen dot); the audit join is
  // 10×10. This is the eval harness every production ANN deployment runs
  // after (re)bucketing — at scale brute-force runs on a sampled query
  // set, the bucket route on all of it.
  def r1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("bk", expr(VectorOps.bucketSqlSpark("embedding", 8)))
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), $"bk".as("qbk"), $"n2".as("qn2"))
    val scored = graft.core.ScalarSub.withScalars(e.filter($"vec_id" =!= 0), q)
      .withColumn("cos", VectorOps.dotNative($"embedding", $"qe") /
        (sqrt($"n2") * sqrt($"qn2")))
    val brute = scored.orderBy($"cos".desc, $"vec_id").limit(10).select($"vec_id")
    val lsh = scored.filter($"bk" === $"qbk")
      .orderBy($"cos".desc, $"vec_id").limit(10).select($"vec_id".as("lv"))
    brute.join(lsh, $"vec_id" === $"lv", "left")
      .agg(count(lit(1)).as("n_brute"), count($"lv").as("n_hit"))
      .select($"n_brute", $"n_hit",
        round($"n_hit".cast("double") / $"n_brute".cast("double"), 6)
          .as("recall_at_10"))
  }
  val r1Sql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${VectorOps.bucketSqlDuck("embedding", 8)} AS bk
       |  FROM embeddings),
       |q AS (SELECT embedding AS qe, bk AS qbk FROM b WHERE vec_id = 0),
       |sc AS (SELECT a.vec_id, a.bk, q.qbk,
       |         ${VectorOps.cosineSqlDuck("a.embedding", "q.qe", 64)} AS cos
       |       FROM b a, q WHERE a.vec_id <> 0),
       |brute AS (SELECT vec_id FROM sc ORDER BY cos DESC, vec_id LIMIT 10),
       |lsh AS (SELECT vec_id FROM sc WHERE bk = qbk
       |        ORDER BY cos DESC, vec_id LIMIT 10)
       |SELECT COUNT(*) AS n_brute, COUNT(l.vec_id) AS n_hit,
       |  round(CAST(COUNT(l.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS recall_at_10
       |FROM brute br LEFT JOIN lsh l ON br.vec_id = l.vec_id""".stripMargin

  // R2: IVF recall audit — r1's harness pointed at the IVF route instead
  // of the LSH bucket: recall@10 of "search only the query's cell" (s3's
  // layout at the corpus-sized k) against the brute-force ground truth.
  // The number the ivfCellTarget dial trades against: raising k cuts the
  // probed fraction ~1/k AND narrows each cell, so single-probe recall
  // falls on weakly-clustered data — MEASURED on this synthetic corpus:
  // 0.4 at the old fixed k=4 vs 0.1 at the dial's k=8 (sf0.1, DuckDB
  // cross-check). That is the production k-vs-nprobe trade, and s5's
  // multi-probe is the standard recovery lever (probe the top-p cells,
  // recall climbs back at p/k of the scan). This query exists so the
  // trade is a visible, re-measurable number whenever the dial moves —
  // never a silent regression.
  def r2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), $"n2".as("qn2"))
    val scored = graft.core.ScalarSub.withScalars(e.filter($"vec_id" =!= 0), q)
      .withColumn("cos", VectorOps.dotNative($"embedding", $"qe") /
        (sqrt($"n2") * sqrt($"qn2")))
    val cells = ivfCells(s, dir)
    val qcell = cells.filter($"vec_id" === 0).select($"cell".as("qcell"))
    val brute = scored.orderBy($"cos".desc, $"vec_id").limit(10).select($"vec_id")
    val routed = scored.join(cells, "vec_id")
      .join(broadcast(qcell), $"cell" === $"qcell")
      .orderBy($"cos".desc, $"vec_id").limit(10).select($"vec_id".as("rv"))
    brute.join(routed, $"vec_id" === $"rv", "left")
      .agg(count(lit(1)).as("n_brute"), count($"rv").as("n_hit"))
      .select($"n_brute", $"n_hit",
        round($"n_hit".cast("double") / $"n_brute".cast("double"), 6)
          .as("recall_at_10"))
  }
  val r2Sql: String = {
    val qCos = VectorOps.cosineSqlDuck("a.embedding", "q.qe", 64)
    s"""WITH $ivfCellsSqlCtes,
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |sc AS (SELECT a.vec_id, $qCos AS cos
       |       FROM embeddings a, q WHERE a.vec_id <> 0),
       |qc AS (SELECT cell AS qcell FROM cells WHERE vec_id = 0),
       |brute AS (SELECT vec_id FROM sc ORDER BY cos DESC, vec_id LIMIT 10),
       |routed AS (SELECT sc.vec_id FROM sc JOIN cells ON sc.vec_id = cells.vec_id, qc
       |           WHERE cells.cell = qc.qcell ORDER BY cos DESC, sc.vec_id LIMIT 10)
       |SELECT COUNT(*) AS n_brute, COUNT(r.vec_id) AS n_hit,
       |  round(CAST(COUNT(r.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS recall_at_10
       |FROM brute b LEFT JOIN routed r ON b.vec_id = r.vec_id""".stripMargin
  }

  // S5: multi-probe IVF ANN — same cell layout as s3, but the QUERY probes
  // its top-2 centroids' cells instead of one. The standard recall lever
  // when the true neighbor falls just across a cell boundary: data stays
  // single-assigned (build cost unchanged), probe cost doubles to 2/k of
  // the data, recall strictly dominates s3's.
  def s5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val cells = ivfCells(s, dir)
    val cents = ivfCents(s, dir)
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), VectorOps.dotNative($"embedding", $"embedding").as("qn2"))
    // query-side assignment, top-2 cells (k rows through TakeOrdered — not
    // a window: even a 4-row unpartitioned window is a plan shape the
    // audit bans, and limit-after-sort plans as TakeOrderedAndProject)
    val qcells = graft.core.ScalarSub.withScalars(cents, q)
      .withColumn("ccos", VectorOps.dotNative($"ce", $"qe") /
        (sqrt($"cn2") * sqrt($"qn2")))
      .orderBy($"ccos".desc, $"cid").limit(2)
      .select($"cid".as("qcell"))
    e.join(cells, "vec_id")
      .join(broadcast(qcells), $"cell" === $"qcell")
      .filter($"vec_id" =!= 0)
      .transform(graft.core.ScalarSub.withScalars(_, q))
      .select($"vec_id", (VectorOps.dotNative($"embedding", $"qe") /
        (sqrt(VectorOps.dotNative($"embedding", $"embedding")) * sqrt($"qn2"))).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(5)
  }
  val s5Sql: String = {
    val qcCos = VectorOps.cosineSqlDuck("c.ce", "q.qe", 64)
    val qCos = VectorOps.cosineSqlDuck("e.embedding", "q.qe", 64)
    s"""WITH $ivfCellsSqlCtes,
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qc AS (SELECT cid AS qcell FROM (
       |         SELECT c.cid, ROW_NUMBER() OVER (ORDER BY $qcCos DESC, c.cid) AS rk
       |         FROM c, q) r WHERE rk <= 2)
       |SELECT e.vec_id, $qCos AS cos
       |FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id
       |     JOIN qc ON cells.cell = qc.qcell, q
       |WHERE e.vec_id <> 0
       |ORDER BY cos DESC, e.vec_id LIMIT 5""".stripMargin
  }

  // T12: Zipf vocabulary coverage — cumulative corpus coverage of the top-k
  // tokens (the tokenizer-vocabulary sizing curve: "how much of the stream
  // do the k most frequent types cover"). Rank AND running sum both come
  // from [[graft.operators.GlobalRank]] (range-repartitioned row_number +
  // distributed prefix sum) — no single-partition window even for a
  // billion-type vocabulary; the corpus total is a 1-row broadcast.
  def t12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = docTokens(s, dir).groupBy($"tok").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum($"c").cast("long").as("t"))
    val cum = graft.operators.GlobalRank.withPrefixSum(
      counts, Seq($"c".desc, $"tok"), $"c", out = "cum")
    graft.operators.GlobalRank.withRowNumber(
        cum, Seq($"c".desc, $"tok"), rn = "rk", nTotal = None)
      .filter($"rk" <= 20)
      .transform(graft.core.ScalarSub.withScalars(_, tot))
      .select($"rk".cast("long").as("rk"), $"tok", $"c",
        round($"cum".cast("double") / $"t".cast("double"), 6).as("cum_frac"))
      .orderBy($"rk")
  }
  val t12Sql: String =
    s"""$duckTokCtes,
       |c AS (SELECT tok, COUNT(*) AS c FROM pt GROUP BY tok),
       |r AS (SELECT tok, c,
       |        CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rk,
       |        SUM(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM c),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM c)
       |SELECT rk, tok, c, round(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 6) AS cum_frac
       |FROM r, t WHERE rk <= 20 ORDER BY rk""".stripMargin

  // PQ1: product quantization (Jégou et al., TPAMI 2011) — the memory-side
  // ANN step past qz1's scalar quantization: the 64-dim space splits into
  // M=8 subspaces of 8 dims; each subvector is coded as its nearest of 4
  // fixed centroids (vec_ids 1–4 sliced per subspace, s3's deterministic
  // seeding), and query distance is ADC — Σ_m table[m][code_m] with the
  // 8×4 distance table precomputed ONCE on the 1-row centroid frame as a
  // single 32-slot literal array (`tarr`) delivered as a scalar subquery.
  // Per-row work is 32 subvector distances + one array_min/array_position
  // argmin and one tarr lookup per subspace — r6's staged CASE-argmin
  // cascade (32 d-columns + 8 code columns + an 8-way CASE sum) paid ~2×
  // DuckDB in projection layers alone; array_position's first-match-on-
  // ties reproduces the CASE chain's prefer-lowest-code tiebreak exactly.
  // At scale the codes are 8 bytes/vector and the scan never touches
  // floats. Top-10 by ADC distance, exact L2² alongside (same unrolled
  // summation tree both engines) so the approximation error is visible.
  /** 1-row PQ codebook frame shared by pq1 and ivfpq1: query vector qe,
    * packed per-subspace centroids cearr (vec_ids 1..4 sliced per
    * subspace — PQ codebook size is an INDEX-FORMAT constant, 2
    * bits/subspace, not a corpus dial like [[ivfK]]), the 8×4 ADC table
    * tarr[m*4 + c] = ‖query_m − centroid_c,m‖² built by ONE native
    * expression (the unrolled column form was a ~1,600-node tree that
    * Catalyst re-walked inside every scalar-subquery reference — on a
    * 2,000-row table that plan-compile cost WAS the query), and ‖q‖²
    * hoisted so the per-row l2 pays two dots, not three. */
  private def pqCodebook(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    e.filter($"vec_id" <= 4).agg(
        first(when($"vec_id" === 0, $"embedding"), ignoreNulls = true).as("qe"),
        (1 to 4).map(c =>
          first(when($"vec_id" === c, $"embedding"), ignoreNulls = true).as(s"ce$c")): _*)
      .withColumn("cearr", array(col("ce1"), col("ce2"), col("ce3"), col("ce4")))
      .withColumn("tarr", GraftSqlBridge.column(graft.functions.PqAdcTable(
        GraftSqlBridge.expression(col("qe")),
        GraftSqlBridge.expression(col("cearr")), 8)))
      .withColumn("qq", VectorOps.dotNative(col("qe"), col("qe")))
      .select(col("qe"), col("cearr"), col("tarr"), col("qq"))
  }

  /** ADC scoring + exact-l2 audit of `base` rows (must carry `embedding`
    * and the [[pqCodebook]] scalars): top-10 by asymmetric PQ distance. */
  private def pqAdcTop10(s: SparkSession, base: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    // one native primitive loop per row: encode all 8 subspaces against
    // the packed codebook and sum the tarr lookups (see PqAdcDistance —
    // identical float→double arithmetic and tie-breaks to the SQL form)
    val adist = GraftSqlBridge.column(graft.functions.PqAdcDistance(
      GraftSqlBridge.expression($"embedding"),
      GraftSqlBridge.expression($"cearr"),
      GraftSqlBridge.expression($"tarr")))
    base
      .withColumn("adist", adist)
      .withColumn("l2",
        VectorOps.dotNative($"embedding", $"embedding") + $"qq" -
        lit(2.0) * VectorOps.dotNative($"embedding", $"qe"))
      .orderBy($"adist".asc, $"vec_id").limit(10)
      .select($"vec_id", round($"adist", 9).as("adist"),
        round($"l2", 9).as("l2_exact"))
  }

  def pq1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    pqAdcTop10(s, graft.core.ScalarSub.withScalars(
      e.filter($"vec_id" =!= 0), pqCodebook(s, e)))
  }
  /** PQ ADC oracle text, parameterized on the candidate set: `preCtes`
    * prepends extra CTEs (ivfpq1's cell chain) and `ddFrom` is the dd
    * stage's FROM/WHERE (pq1 scans the corpus; ivfpq1 scans the query's
    * cell). Everything else — the 8×4 table, the per-row argmin CASE
    * chain, the exact-l2 audit — is byte-identical between the two. */
  private def pqAdcSqlText(preCtes: String, ddFrom: String): String = {
    def dsqS(x: String, c: String, m: Int): String =
      (0 until 8).map { i =>
        val idx = m * 8 + i + 1
        s"(CAST($x[$idx] AS DOUBLE) - CAST($c[$idx] AS DOUBLE)) * " +
          s"(CAST($x[$idx] AS DOUBLE) - CAST($c[$idx] AS DOUBLE))"
      }.mkString(" + ")
    val tCols = (for { m <- 0 until 8; c <- 1 to 4 } yield
      s"${dsqS("qe", s"ce$c", m)} AS t_${m}_$c").mkString(",\n|    ")
    val dCols = (for { m <- 0 until 8; c <- 1 to 4 } yield
      s"${dsqS("embedding", s"ce$c", m)} AS d_${m}_$c").mkString(",\n|    ")
    val codeCols = (0 until 8).map { m =>
      def d(c: Int) = s"d_${m}_$c"
      s"CASE WHEN ${d(1)} <= ${d(2)} AND ${d(1)} <= ${d(3)} AND ${d(1)} <= ${d(4)} THEN 1 " +
        s"WHEN ${d(2)} <= ${d(3)} AND ${d(2)} <= ${d(4)} THEN 2 " +
        s"WHEN ${d(3)} <= ${d(4)} THEN 3 ELSE 4 END AS code_$m"
    }.mkString(",\n|    ")
    val adistExpr = (0 until 8).map { m =>
      s"(CASE code_$m WHEN 1 THEN t_${m}_1 WHEN 2 THEN t_${m}_2 " +
        s"WHEN 3 THEN t_${m}_3 ELSE t_${m}_4 END)"
    }.mkString(" + ")
    val l2 = s"(${VectorOps.dotSqlDuck("embedding", "embedding", 64)}) + " +
      s"(${VectorOps.dotSqlDuck("qe", "qe", 64)}) - " +
      s"2.0 * (${VectorOps.dotSqlDuck("embedding", "qe", 64)})"
    s"""WITH ${preCtes}cents AS (SELECT
       |    (SELECT embedding FROM embeddings WHERE vec_id = 0) AS qe,
       |    (SELECT embedding FROM embeddings WHERE vec_id = 1) AS ce1,
       |    (SELECT embedding FROM embeddings WHERE vec_id = 2) AS ce2,
       |    (SELECT embedding FROM embeddings WHERE vec_id = 3) AS ce3,
       |    (SELECT embedding FROM embeddings WHERE vec_id = 4) AS ce4),
       |ct AS (SELECT *,
       |    $tCols
       |  FROM cents),
       |dd AS (SELECT e.vec_id, e.embedding, ctb.*,
       |    $dCols
       |  FROM $ddFrom),
       |cd AS (SELECT *,
       |    $codeCols
       |  FROM dd),
       |res AS (SELECT vec_id, $adistExpr AS adist, $l2 AS l2 FROM cd)
       |SELECT vec_id, round(adist, 9) AS adist, round(l2, 9) AS l2_exact
       |FROM res ORDER BY adist, vec_id LIMIT 10""".stripMargin
  }
  val pq1Sql: String =
    pqAdcSqlText("", "embeddings e CROSS JOIN ct ctb WHERE e.vec_id <> 0")

  // IVFPQ1: IVF-routed PQ search — the production billion-scale ANN
  // layout (FAISS's IVFADC, Jégou et al. §IV): the coarse quantizer (s3's
  // corpus-sized cell assignment) routes the query to ONE cell, and only
  // that cell's vectors are ADC-scored against the 8×4 codebook. The two
  // compressions compose multiplicatively at scale: the probe touches
  // ~1/k of the corpus and each probed row costs 32 table lookups on
  // 8-byte codes instead of a 64-float scan — this is the memory/compute
  // shape that serves 10⁹ vectors from RAM. Exact l2² rides alongside so
  // the two-stage approximation error is visible per row, and the oracle
  // recomputes the full route+score pipeline from scratch.
  def ivfpq1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val cells = ivfCells(s, dir)
    val qcell = cells.filter($"vec_id" === 0).select($"cell".as("qcell"))
    val base = e.join(cells, "vec_id")
      .join(broadcast(qcell), $"cell" === $"qcell")
      .filter($"vec_id" =!= 0)
    pqAdcTop10(s, graft.core.ScalarSub.withScalars(base, pqCodebook(s, e)))
  }
  val ivfpq1Sql: String = pqAdcSqlText(
    s"""$ivfCellsSqlCtes,
       |qc AS (SELECT cell AS qcell FROM cells WHERE vec_id = 0),
       |""".stripMargin,
    "embeddings e JOIN cells ON e.vec_id = cells.vec_id " +
      "JOIN qc ON cells.cell = qc.qcell CROSS JOIN ct ctb WHERE e.vec_id <> 0")

  // BP1: corpus-level boilerplate mining — the 3-gram shingles present in
  // the most DOCUMENTS (headers, footers, licence lines — the strings a
  // curation pipeline blacklists before dedup, since boilerplate inflates
  // every pairwise similarity). Complements ds1 (within-pair spans) and
  // d4 (pairwise Jaccard): this is the corpus-wide table. Reuses the
  // memoized distinct shingle substrate, one groupBy + bounded top-20;
  // doc-share denominator is a 1-row broadcast.
  def bp1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nd = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs_total"))
    docShingles(s, dir)
      .groupBy($"sh").agg(count(lit(1)).as("n_docs"))
      .orderBy($"n_docs".desc, $"sh").limit(20)
      .transform(graft.core.ScalarSub.withScalars(_, nd))
      .select($"sh", $"n_docs", $"n_docs_total",
        round($"n_docs".cast("double") / $"n_docs_total".cast("double"), 9)
          .as("doc_share"))
      .orderBy($"n_docs".desc, $"sh")
  }
  val bp1Sql: String =
    """WITH dt AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |pt AS (
      |  SELECT doc_id, s.pos AS pos, s.tok AS tok
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(toks, (x, i) -> struct_pack(pos := i, tok := x))) AS s
      |        FROM dt) t),
      |sh AS (SELECT DISTINCT doc_id, sh FROM (
      |         SELECT doc_id,
      |           tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
      |           lead(tok, 2) OVER w AS t2
      |         FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) q
      |       WHERE t2 IS NOT NULL),
      |top AS (SELECT sh, COUNT(*) AS n_docs FROM sh GROUP BY 1
      |        ORDER BY n_docs DESC, sh LIMIT 20),
      |nd AS (SELECT COUNT(*) AS n_docs_total FROM documents)
      |SELECT sh, n_docs, n_docs_total,
      |  round(CAST(n_docs AS DOUBLE) / CAST(n_docs_total AS DOUBLE), 9) AS doc_share
      |FROM top, nd ORDER BY n_docs DESC, sh""".stripMargin

  // EMB2: matryoshka truncation audit (Kusupati et al., NeurIPS 2022 —
  // MRL-style nested embeddings) — retrieval quality when the index stores
  // only the FIRST 16 of 64 dims (4× memory/bandwidth cut, the standard
  // cheap tier of a two-stage retriever). Top-10 under prefix-cosine
  // flagged against the full-dimension exact top-10; both legs are one
  // scan + bounded TakeOrdered against the 1-row broadcast query. The
  // 16-dim cosine is the same unrolled left-assoc summation text on both
  // engines (VectorOps.cosineSql*), so ranking ties break identically.
  def emb2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qe"), $"n2".as("qn2"))
    val base = graft.core.ScalarSub.withScalars(e.filter($"vec_id" =!= 0), q)
    val full = base
      .withColumn("cos", VectorOps.dotNative($"embedding", $"qe") /
        (sqrt($"n2") * sqrt($"qn2")))
      .orderBy($"cos".desc, $"vec_id").limit(10)
      .select($"vec_id", lit(true).as("hit"))
    base
      .withColumn("cos16", expr(VectorOps.cosineSqlSpark("embedding", "qe", 16)))
      .orderBy($"cos16".desc, $"vec_id").limit(10)
      .join(broadcast(full), Seq("vec_id"), "left")
      .select($"vec_id", round($"cos16", 9).as("cos16"),
        coalesce($"hit", lit(false)).as("in_full_topk"))
      .orderBy($"vec_id")
  }
  val emb2Sql: String = {
    val cos64 = VectorOps.cosineSqlDuck("embedding", "qe", 64)
    val cos16 = VectorOps.cosineSqlDuck("embedding", "qe", 16)
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |base AS (SELECT a.vec_id, a.embedding, q.qe
       |         FROM embeddings a, q WHERE a.vec_id <> 0),
       |full64 AS (SELECT vec_id FROM (
       |    SELECT vec_id, $cos64 AS cos FROM base
       |    ORDER BY cos DESC, vec_id LIMIT 10) t),
       |t16 AS (SELECT vec_id, $cos16 AS cos16 FROM base
       |        ORDER BY cos16 DESC, vec_id LIMIT 10)
       |SELECT t.vec_id, round(t.cos16, 9) AS cos16,
       |  (f.vec_id IS NOT NULL) AS in_full_topk
       |FROM t16 t LEFT JOIN full64 f USING (vec_id)
       |ORDER BY vec_id""".stripMargin
  }

  // NDCG1: ranking-quality audit of the LSH route — r1 measures RECALL of
  // the bucket probe; NDCG@10 additionally weighs WHERE the survivors
  // land (graded relevance 11−exact_rank, discounted by 1/log2(rank+1)).
  // The discount is FIXED-POINT: w_k = round(1e9 / log2(k+1)) computed
  // once and embedded as the same ten integer literals in both engines, so
  // DCG/IDCG are exact integer sums (the integer-scaled-PageRank
  // discipline) and the final ratio is the only double. Both lists are
  // bounded top-10s (TakeOrdered + GlobalRank on 10-row frames); the
  // audit join is O(k).
  def ndcg1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wArr = array(NdcgW.map(lit(_)): _*)
    val e = Tables.embeddings(s, dir)
      .withColumn("bk", expr(VectorOps.bucketSqlSpark("embedding", 8)))
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), $"bk".as("qbk"), $"n2".as("qn2"))
    val exactTop = graft.core.ScalarSub.withScalars(e.filter($"vec_id" =!= 0), q)
      .withColumn("cos", VectorOps.dotNative($"embedding", $"qe") /
        (sqrt($"n2") * sqrt($"qn2")))
      .orderBy($"cos".desc, $"vec_id").limit(10)
    val exact = graft.operators.GlobalRank
      .withRowNumber(exactTop, Seq($"cos".desc, $"vec_id"), "er", nTotal = None)
      .select($"vec_id", (lit(11L) - $"er").as("rel"), $"er")
    val approxTop = e.filter($"vec_id" =!= 0)
      .join(broadcast(q), $"bk" === $"qbk")
      .withColumn("cos", VectorOps.dotNative($"embedding", $"qe") /
        (sqrt($"n2") * sqrt($"qn2")))
      .orderBy($"cos".desc, $"vec_id").limit(10)
    val approx = graft.operators.GlobalRank
      .withRowNumber(approxTop, Seq($"cos".desc, $"vec_id"), "ar", nTotal = None)
      .select($"vec_id", $"ar")
    val d = approx
      .join(broadcast(exact.select($"vec_id", $"rel")), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_approx"),
        sum(when($"rel".isNotNull, 1L).otherwise(0L)).as("n_overlap"),
        sum(coalesce($"rel", lit(0L)) *
          element_at(wArr, $"ar".cast("int"))).as("dcg_scaled"))
    val i = exact.agg(
      sum($"rel" * element_at(wArr, $"er".cast("int"))).as("idcg_scaled"))
    graft.core.ScalarSub.withScalars(d, i)
      .select($"n_approx", $"n_overlap", $"dcg_scaled", $"idcg_scaled",
        round($"dcg_scaled".cast("double") / $"idcg_scaled".cast("double"), 9)
          .as("ndcg"))
  }
  /** Fixed-point NDCG discounts: round(1e9 / log2(k+1)), k = 1..10 —
    * generated once, embedded identically in the Column tree and the SQL. */
  private val NdcgW: Seq[Long] =
    (1 to 10).map(k => math.round(1e9 / (math.log(k + 1.0) / math.log(2.0))))
  val ndcg1Sql: String = {
    val cos = VectorOps.cosineSqlDuck("a.embedding", "q.qe", 64)
    def wCase(r: String) = (1 to 10)
      .map(k => s"WHEN $k THEN ${NdcgW(k - 1)}").mkString(s"CASE $r ", " ", " END")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${VectorOps.bucketSqlDuck("embedding", 8)} AS bk
       |  FROM embeddings),
       |q AS (SELECT embedding AS qe, bk AS qbk FROM b WHERE vec_id = 0),
       |ex AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS er
       |       FROM (SELECT a.vec_id, $cos AS cos
       |             FROM embeddings a, q WHERE a.vec_id <> 0) t),
       |exact AS (SELECT vec_id, 11 - er AS rel, er FROM ex WHERE er <= 10),
       |ap AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS ar
       |       FROM (SELECT a.vec_id, $cos AS cos
       |             FROM b a, q WHERE a.bk = q.qbk AND a.vec_id <> 0) t),
       |approx AS (SELECT vec_id, ar FROM ap WHERE ar <= 10),
       |d AS (SELECT COUNT(*) AS n_approx,
       |        CAST(SUM(CASE WHEN e.rel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |        CAST(SUM(COALESCE(e.rel, 0) * (${wCase("a.ar")})) AS BIGINT) AS dcg_scaled
       |      FROM approx a LEFT JOIN exact e USING (vec_id)),
       |i AS (SELECT CAST(SUM(rel * (${wCase("er")})) AS BIGINT) AS idcg_scaled
       |      FROM exact)
       |SELECT n_approx, n_overlap, dcg_scaled, idcg_scaled,
       |  round(CAST(dcg_scaled AS DOUBLE) / CAST(idcg_scaled AS DOUBLE), 9) AS ndcg
       |FROM d, i""".stripMargin
  }

  // VP1: vocabulary pruning under token-coverage targets — the tokenizer
  // sizing question "how small a vocab still covers 90/95/99% of the token
  // stream?" (t12 shows the top of the curve; vp1 inverts it). Frequency
  // ranking and the cumulative-coverage sweep run on the vocabulary-sized
  // counts table via GlobalRank's prefix machinery (two bounded range
  // shuffles, never a single-partition window over the corpus); the target
  // test is ALL-INTEGER — cum·den ≥ num·total with (9/10, 19/20, 99/100)
  // threshold fractions — so the boundary term is bit-exact on both
  // engines, no double comparison anywhere near the cut.
  def vp1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = docTokens(s, dir).groupBy($"tok").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum($"c").cast("long").as("t"),
      count(lit(1)).cast("long").as("n_vocab"))
    val cum = graft.operators.GlobalRank.withPrefixSum(
      counts, Seq($"c".desc, $"tok"), $"c", out = "cum")
    val rk = graft.operators.GlobalRank.withRowNumber(
      cum, Seq($"c".desc, $"tok"), rn = "rk", nTotal = None)
    val targets = array(Seq((9L, 10L), (19L, 20L), (99L, 100L)).map { case (n, d) =>
      struct(lit(n).as("num"), lit(d).as("den")) }: _*)
    graft.core.ScalarSub.withScalars(rk, tot)
      .withColumn("tgt", explode(targets))
      .select(col("*"), $"tgt.num".as("num"), $"tgt.den".as("den"))
      .filter($"cum" * $"den" >= $"num" * $"t" &&
        ($"cum" - $"c") * $"den" < $"num" * $"t")
      .select(
        round($"num".cast("double") / $"den".cast("double"), 2).as("target"),
        $"rk".cast("long").as("vocab_size"), $"n_vocab",
        $"cum".as("covered_tokens"), $"t".as("total_tokens"),
        round($"cum".cast("double") / $"t".cast("double"), 9).as("coverage"))
      .orderBy($"target")
  }
  val vp1Sql: String =
    s"""$duckTokCtes,
       |c AS (SELECT tok, COUNT(*) AS c FROM pt GROUP BY tok),
       |r AS (SELECT tok, c,
       |        CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rk,
       |        CAST(SUM(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |      FROM c),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n_vocab FROM c),
       |tg AS (SELECT 9 AS num, 10 AS den UNION ALL SELECT 19, 20
       |       UNION ALL SELECT 99, 100)
       |SELECT round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 2) AS target,
       |  rk AS vocab_size, n_vocab, cum AS covered_tokens, t AS total_tokens,
       |  round(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE), 9) AS coverage
       |FROM r, t, tg
       |WHERE cum * den >= num * t AND (cum - c) * den < num * t
       |ORDER BY target""".stripMargin

  // QZ1: scalar int8 quantization of the embedding table + quantized-route
  // top-k with an exact-route recall audit — the memory-side half of an ANN
  // index (FAISS's SQ8 shape): 4 bytes/dim → 1 byte/dim, distances computed
  // in INTEGER arithmetic on the compressed codes.
  //
  // Scale design: the per-dimension min/max table is a 64-row aggregate —
  // the one collect here is constant-sized regardless of corpus scale (a
  // real deployment reads it from table statistics); quantization is then a
  // pure array expression and the query-side scoring is a broadcast of one
  // quantized query vector — no shuffle anywhere until the TakeOrdered.
  // The quantized dot is EXACT integer arithmetic, so the oracle matches
  // bit-for-bit with no float-summation-order caveats; only the audit's
  // exact-route uses the (already-sealed) s1 cosine discipline.
  def qz1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val st = e.select(posexplode($"embedding").as(Seq("d", "x")))
      .groupBy($"d")
      .agg(min($"x".cast("double")).as("mn"), max($"x".cast("double")).as("mx"))
      .orderBy($"d").collect()
    val mns = st.map(_.getDouble(1))
    val scs = st.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0)
    val quantized = e
      .withColumn("mns", array(mns.map(lit(_)): _*))
      .withColumn("scs", array(scs.map(lit(_)): _*))
      .withColumn("qa", expr(
        """transform(embedding, (x, i) ->
          |  CASE WHEN scs[i] = 0.0D THEN 0
          |       ELSE CAST(round((CAST(x AS DOUBLE) - mns[i]) / scs[i]) AS INT) - 128
          |  END)""".stripMargin))
      .select($"vec_id", $"qa")
    val qq = quantized.filter($"vec_id" === 0).select($"qa".as("qb"))
    val dots = graft.core.ScalarSub.withScalars(quantized.filter($"vec_id" =!= 0), qq)
      .select($"vec_id", expr(
        """aggregate(zip_with(qa, qb, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)),
          |          CAST(0 AS BIGINT), (a, v) -> a + v)""".stripMargin).as("qdot"))
    val en = e.withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val q = en.filter($"vec_id" === 0).select($"embedding".as("qe"), $"n2".as("qn2"))
    val brute = graft.core.ScalarSub.withScalars(en.filter($"vec_id" =!= 0), q)
      .withColumn("cos", VectorOps.dotNative($"embedding", $"qe") /
        (sqrt($"n2") * sqrt($"qn2")))
      .orderBy($"cos".desc, $"vec_id").limit(10)
      .select($"vec_id", lit(true).as("hit"))
    dots.orderBy($"qdot".desc, $"vec_id").limit(10)
      .join(broadcast(brute), Seq("vec_id"), "left")
      .select($"vec_id", $"qdot", coalesce($"hit", lit(false)).as("in_exact_topk"))
      .orderBy($"qdot".desc, $"vec_id")
  }
  val qz1Sql: String = {
    val cos = VectorOps.cosineSqlDuck("a.embedding", "q.qe", 64)
    s"""WITH ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, unnest(embedding) AS x
       |  FROM embeddings),
       |st AS (SELECT d, min(CAST(x AS DOUBLE)) AS mn,
       |         (max(CAST(x AS DOUBLE)) - min(CAST(x AS DOUBLE))) / 255.0 AS sc
       |       FROM ex GROUP BY d),
       |qt AS (SELECT e.vec_id, e.d,
       |         CASE WHEN st.sc = 0.0 THEN 0
       |              ELSE CAST(round((CAST(e.x AS DOUBLE) - st.mn) / st.sc) AS INT) - 128
       |         END AS q
       |       FROM ex e JOIN st USING (d)),
       |qv AS (SELECT d, q AS qq FROM qt WHERE vec_id = 0),
       |dots AS (SELECT t.vec_id,
       |           CAST(SUM(CAST(t.q AS BIGINT) * CAST(v.qq AS BIGINT)) AS BIGINT) AS qdot
       |         FROM qt t JOIN qv v USING (d) WHERE t.vec_id <> 0 GROUP BY t.vec_id),
       |brute AS (SELECT vec_id FROM (
       |            SELECT a.vec_id, $cos AS cos
       |            FROM embeddings a,
       |                 (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
       |            WHERE a.vec_id <> 0) t
       |          ORDER BY cos DESC, vec_id LIMIT 10),
       |top AS (SELECT vec_id, qdot FROM dots ORDER BY qdot DESC, vec_id LIMIT 10)
       |SELECT t.vec_id, t.qdot, (b.vec_id IS NOT NULL) AS in_exact_topk
       |FROM top t LEFT JOIN brute b USING (vec_id)
       |ORDER BY t.qdot DESC, t.vec_id""".stripMargin
  }

  // RP1: random-projection dimensionality reduction (Johnson–Lindenstrauss
  // with a ±1 Achlioptas matrix) + distance-preservation audit — the
  // dim-reduction stage that runs BEFORE bucketing/ANN at scale (64 → 16
  // dims here). The "random" matrix is a deterministic Knuth-hash bit —
  // sign(d,j) from bit 16 of ((d·16+j+1)·2654435761) mod 2³² — pure
  // integer column arithmetic identical on both engines (BottomK's hash
  // discipline; bit 16, not bit 0: the multiplier is odd, so the low bit
  // would just alternate with the index). Projection and squared
  // distances are fixed-order left folds (t8's discipline), so ratio and
  // audit flag match bit-for-bit with no hardcoded-TRUE oracle.
  //
  // Scale: zero joins/windows on the corpus side — the projection is a
  // per-row array expression; the query vector is a 1-row broadcast.
  private val RpK = 16
  /** Spark/DuckDB shared projection text: dialect differences are only
    * integer div (`div` vs `//`) and array indexing base. */
  private def rpProjSpark(emb: String): String =
    s"""transform(sequence(0, 15), j -> aggregate(sequence(0, 63), 0.0D,
       |  (acc, d) -> acc + CAST(element_at($emb, d + 1) AS DOUBLE) *
       |    CAST(2 * (((((d*16 + j + 1) * 2654435761) % 4294967296) div 65536) % 2) - 1 AS DOUBLE)))"""
      .stripMargin
  private def rpProjDuck(emb: String): String =
    s"""list_transform(range(0, 16), j -> list_reduce(list_transform(range(0, 64),
       |  d -> CAST($emb[d + 1] AS DOUBLE) *
       |    CAST(2 * (((((d*16 + j + 1) * 2654435761) % 4294967296) // 65536) % 2) - 1 AS DOUBLE)),
       |  (a, b) -> a + b))""".stripMargin
  def rp1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
      .withColumn("pj", expr(rpProjSpark("embedding")))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), $"n2".as("qn2"), $"pj".as("qpj"))
    graft.core.ScalarSub.withScalars(e.filter($"vec_id".between(1, 20)), q)
      .withColumn("orig2", $"n2" + $"qn2" - lit(2.0) * VectorOps.dotNative($"embedding", $"qe"))
      .withColumn("proj2", expr(
        "aggregate(zip_with(pj, qpj, (x, y) -> (x - y) * (x - y)), 0.0D, (a, v) -> a + v)"))
      .withColumn("ratio", $"proj2" / (lit(RpK.toDouble) * $"orig2"))
      .select($"vec_id", round($"orig2", 6).as("orig2"), round($"proj2", 6).as("proj2"),
        round($"ratio", 6).as("ratio"),
        ($"ratio" >= 0.2 && $"ratio" <= 5.0).as("jl_ok"))
      .orderBy($"vec_id")
  }
  val rp1Sql: String = {
    val dotAA = VectorOps.dotSqlDuck("a.embedding", "a.embedding", 64)
    val dotQQ = VectorOps.dotSqlDuck("q.qe", "q.qe", 64)
    val dotAQ = VectorOps.dotSqlDuck("a.embedding", "q.qe", 64)
    s"""WITH q AS (SELECT embedding AS qe, ${rpProjDuck("embedding")} AS qpj
       |           FROM embeddings WHERE vec_id = 0),
       |pa AS (SELECT vec_id, embedding, ${rpProjDuck("embedding")} AS apj
       |       FROM embeddings WHERE vec_id BETWEEN 1 AND 20),
       |sc AS (
       |  SELECT a.vec_id,
       |    ($dotAA) + ($dotQQ) - 2.0 * ($dotAQ) AS orig2,
       |    list_reduce(list_transform(range(0, 16),
       |      j -> (a.apj[j + 1] - q.qpj[j + 1]) * (a.apj[j + 1] - q.qpj[j + 1])),
       |      (x, y) -> x + y) AS proj2
       |  FROM pa a, q)
       |SELECT vec_id, round(orig2, 6) AS orig2, round(proj2, 6) AS proj2,
       |  round(proj2 / (16.0 * orig2), 6) AS ratio,
       |  (proj2 / (16.0 * orig2) >= 0.2 AND proj2 / (16.0 * orig2) <= 5.0) AS jl_ok
       |FROM sc ORDER BY vec_id""".stripMargin
  }

  // T5: BPE-ish regex tokenization (letter runs / digit runs / single
  // punctuation) — corpus stats per language.
  private val BpeRe = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def t5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        explode(regexp_extract_all($"text", lit(BpeRe), lit(0))).as("tok"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"tok").as("n_distinct"),
        countDistinct($"doc_id").as("n_docs"))
      .orderBy($"lang")
  }
  val t5Sql: String =
    s"""SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct,
       |  COUNT(DISTINCT doc_id) AS n_docs
       |FROM (SELECT doc_id, lang, unnest(regexp_extract_all(text, '$BpeRe')) AS tok
       |      FROM documents) t
       |GROUP BY lang ORDER BY lang""".stripMargin

  // HOF1: higher-order array functions over embeddings — L2 norm via
  // aggregate(zip_with(...)), positive-component count via filter(...),
  // normalized first component. (The oracle mirrors with unrolled
  // left-associated sums / list_filter.)
  def hof1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l2 = sqrt(VectorOps.dot($"embedding", $"embedding"))
    Tables.embeddings(s, dir)
      .filter($"vec_id" < 50)
      .select($"vec_id",
        l2.as("l2_norm"),
        size(filter($"embedding", x => x > 0f)).cast("long").as("n_pos"),
        (element_at($"embedding", 1).cast("double") / l2).as("c0_norm"))
      .orderBy($"vec_id")
  }
  val hof1Sql: String = {
    val dot = VectorOps.dotSqlDuck("embedding", "embedding", 64)
    s"""SELECT vec_id, sqrt($dot) AS l2_norm,
       |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       |  CAST(embedding[1] AS DOUBLE) / sqrt($dot) AS c0_norm
       |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin
  }

  // EV1: per-label per-dimension embedding moments — the drift/collapse
  // diagnostic over an embedding store (a dimension whose variance ≈ 0 is
  // dead; a label whose means shift between snapshots has drifted).
  // Determinism discipline: each float component is scaled to an exact
  // integer (round(v·1e6) as long), sums/sums-of-squares aggregate in
  // integer space (order-independent), and mean/variance come out of one
  // identically-ordered double formula rounded at the edge — the same
  // integer-cents pattern as the grouping-set family. One posexplode +
  // (label, dim)-keyed hash aggregate: 64·|labels| groups at any corpus
  // size, partial map-side combine does nearly all the work.
  def ev1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scaled = Tables.embeddings(s, dir)
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .select($"label", $"dim".cast("long").as("dim"),
        round($"v".cast("double") * 1e6, 0).cast("long").as("sv"))
    val m = ($"s1".cast("double") / $"n".cast("double"))
    scaled.groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"sv").as("s1"),
        sum($"sv" * $"sv").as("s2"))
      .select($"label", $"dim", $"n",
        round(m / 1e6, 6).as("mean"),
        round(($"s2".cast("double") / $"n".cast("double") - m * m) / 1e12, 6)
          .as("var_pop"))
      .orderBy($"label", $"dim")
  }
  val ev1Sql: String =
    """WITH x AS (
      |  SELECT label, CAST(d.dim - 1 AS BIGINT) AS dim,
      |    CAST(ROUND(CAST(embedding[d.dim] AS DOUBLE) * 1000000, 0) AS BIGINT) AS sv
      |  FROM embeddings CROSS JOIN range(1, 65) d(dim)),
      |g AS (
      |  SELECT label, dim, COUNT(*) AS n,
      |    CAST(SUM(sv) AS BIGINT) AS s1, CAST(SUM(sv * sv) AS BIGINT) AS s2
      |  FROM x GROUP BY 1, 2)
      |SELECT label, dim, n,
      |  ROUND((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000, 6) AS mean,
      |  ROUND((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000000000, 6) AS var_pop
      |FROM g ORDER BY label, dim""".stripMargin

  // EC1: embedding Gram matrix Σ x·xᵀ — the PCA/whitening/covariance
  // input, computed in ONE pass by the mergeable
  // [[graft.functions.Aggregators.GramMatrix]] aggregate: per-partition
  // state is a single 64×64 long array and the shuffle carries one such
  // row per partition, constant in corpus size (the relational route
  // would shuffle ~2080 pair rows per vector). Components are ev1's exact
  // scaled integers (round(v·1e6) as long), so the sums are
  // order-independent and the normalized double is one identically-ordered
  // formula on both engines. Output = upper triangle as (i, j, s_scaled,
  // gram) rows; (i, j) falls out of the buffer index with integer
  // div/mod — no float index math.
  def ec1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = 64
    val sv = transform($"embedding",
      v => round(v.cast("double") * 1e6, 0).cast("long"))
    val gm = udaf(new graft.functions.Aggregators.GramMatrix(dim))
    Tables.embeddings(s, dir)
      .select(sv.as("sv"))
      .agg(count(lit(1)).as("n"), gm($"sv").as("g"))
      .select($"n", posexplode($"g").as(Seq("k", "s")))
      .select(($"k" / dim).cast("long").as("i"),
        ($"k" % dim).cast("long").as("j"), $"n", $"s")
      .filter($"j" >= $"i")
      .select($"i", $"j", $"s".as("s_scaled"),
        round($"s".cast("double") / ($"n".cast("double") * lit(1e12)), 6)
          .as("gram"))
      .orderBy($"i", $"j")
  }
  val ec1Sql: String =
    """WITH x AS (
      |  SELECT list_transform(embedding,
      |    v -> CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS sv
      |  FROM embeddings),
      |nn AS (SELECT COUNT(*) AS n FROM x),
      |p AS (
      |  SELECT CAST(i.i AS BIGINT) AS i, CAST(j.j AS BIGINT) AS j,
      |    CAST(SUM(sv[i.i + 1] * sv[j.j + 1]) AS BIGINT) AS s_scaled
      |  FROM x CROSS JOIN range(0, 64) i(i) CROSS JOIN range(0, 64) j(j)
      |  WHERE j.j >= i.i GROUP BY 1, 2)
      |SELECT i, j, s_scaled,
      |  ROUND(CAST(s_scaled AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000000), 6) AS gram
      |FROM p CROSS JOIN nn ORDER BY i, j""".stripMargin

  // PCA1: PCA reconstruction audit — the realized-guarantee pattern
  // (sk1/sk2/cms1): [[graft.similarity.Pca]] fits on the embedding corpus
  // (one GramMatrix pass + driver Jacobi on the 64×64 covariance), and
  // for each truncation k the query checks the spectral identity
  // "reconstruction MSE = trace(C) − Σ_{j<k} λ_j" against a DISTRIBUTED
  // recompute of the projected variance — the run itself proves the model
  // reconstructs. The oracle contributes the exact corpus trace
  // (DECIMAL(38,0) of scaled-integer moments — long would overflow n·Σx²
  // past ~1e19 at large SF; HUGEINT on the DuckDB side) and expects every
  // ok flag TRUE.
  def pca1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val model = graft.similarity.Pca.fit(emb, "embedding", 64, 64)
    val trace = model.eigenvalues.sum
    // distributed per-component second moments: centered ||x−μ||² and the
    // first 8 projections (codegen'd fixed-order folds)
    val cendot = (0 until 64).map { i =>
      val d = element_at($"embedding", i + 1).cast("double") - lit(model.mean(i))
      d * d
    }.reduce(_ + _)
    val pcs = graft.similarity.Pca.projection("embedding",
      model.copy(components = model.components.take(8),
        eigenvalues = model.eigenvalues.take(8)))
    val aggCols = (0 until 8).map(j => avg(col(s"pc$j") * col(s"pc$j")).as(s"v$j"))
    val aggd = emb.select((cendot.as("cd") +: pcs): _*)
      .agg(avg($"cd").as("mcd"), aggCols: _*)
      .head()
    val mcd = aggd.getAs[Double]("mcd")
    val ks = Seq(1, 2, 4, 8)
    val rows = ks.map { k =>
      val theory = trace - model.eigenvalues.take(k).sum
      val realized = mcd - (0 until k).map(j => aggd.getAs[Double](s"v$j")).sum
      (k.toLong, math.abs(realized - theory) <= 1e-9 + 1e-6 * math.abs(trace))
    }
    // exact trace: Σ_i (n·Σx² − (Σx)²) over scaled integers, in decimal
    val sv = transform($"embedding",
      v => round(v.cast("double") * 1e6, 0).cast("long"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val tr = emb.select(posexplode(sv).as(Seq("i", "x")))
      .groupBy($"i")
      .agg(count(lit(1)).as("n"), sum($"x").as("s1"), sum($"x" * $"x").as("s2"))
      .agg(sum($"n".cast(dec) * $"s2".cast(dec) - $"s1".cast(dec) * $"s1".cast(dec))
        .cast(dec).as("tr_scaled"))
    graft.core.ScalarSub.withScalars(rows.toDF("k", "ok"), tr)
      // exact integer emitted as STRING: DuckDB's pandas bridge narrows
      // DECIMAL(38,0) to float64, which would defeat the exactness
      .select($"k", $"tr_scaled".cast("string").as("tr_scaled"), $"ok")
      .orderBy($"k")
  }
  val pca1Sql: String =
    """WITH x AS (
      |  SELECT CAST(ROUND(CAST(embedding[d.i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS v,
      |    d.i AS i
      |  FROM embeddings CROSS JOIN range(1, 65) d(i)),
      |m AS (SELECT i, COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2
      |      FROM x GROUP BY 1),
      |t AS (SELECT CAST(CAST(SUM(n * s2 - s1 * s1) AS DECIMAL(38,0)) AS VARCHAR) AS tr_scaled FROM m)
      |SELECT CAST(k AS BIGINT) AS k, tr_scaled, TRUE AS ok
      |FROM t CROSS JOIN (VALUES (1), (2), (4), (8)) ks(k) ORDER BY k""".stripMargin

  // T1: language-ID n-gram/stopword heuristic.
  def t1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docTokens(s, dir)
      .groupBy($"doc_id")
      .agg(sum(when($"tok".isin(Stops: _*), 1L).otherwise(0L)).as("ne"),
        count(lit(1)).as("nt"))
      .withColumn("en_score", $"ne".cast("double") / $"nt".cast("double"))
      .withColumn("pred_lang", when($"en_score" >= 0.2, "en").otherwise("other"))
      .filter($"doc_id" < 200)
      .select($"doc_id", $"en_score", $"pred_lang")
      .orderBy($"doc_id")
  }
  val t1Sql: String =
    s"""$duckTokCtes
       |SELECT doc_id, CAST(ne AS DOUBLE) / CAST(nt AS DOUBLE) AS en_score,
       |  CASE WHEN CAST(ne AS DOUBLE) / CAST(nt AS DOUBLE) >= 0.2 THEN 'en' ELSE 'other' END AS pred_lang
       |FROM (SELECT doc_id,
       |        CAST(SUM(CASE WHEN tok IN ($stopsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS ne,
       |        COUNT(*) AS nt
       |      FROM pt GROUP BY 1) q
       |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // T2: quality scoring — type-token ratio, mean token length, stopword
  // ratio, composite score.
  def t2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docTokens(s, dir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct($"tok").as("n_distinct"),
        sum(length($"tok").cast("long")).as("chars"),
        sum(when($"tok".isin(Stops: _*), 1L).otherwise(0L)).as("ns"))
      .withColumn("ttr", $"n_distinct".cast("double") / $"n_tokens".cast("double"))
      .withColumn("mean_tok_len", $"chars".cast("double") / $"n_tokens".cast("double"))
      .withColumn("quality",
        lit(0.5) * ($"n_distinct".cast("double") / $"n_tokens".cast("double")) +
          lit(0.5) * ($"ns".cast("double") / $"n_tokens".cast("double")))
      .filter($"doc_id" < 200)
      .select($"doc_id", $"n_tokens", $"n_distinct", $"ttr", $"mean_tok_len", $"quality")
      .orderBy($"doc_id")
  }
  val t2Sql: String =
    s"""$duckTokCtes
       |SELECT doc_id, n_tokens, n_distinct,
       |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
       |  CAST(chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len,
       |  0.5 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) +
       |    0.5 * (CAST(ns AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS quality
       |FROM (SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_distinct,
       |        CAST(SUM(length(tok)) AS BIGINT) AS chars,
       |        CAST(SUM(CASE WHEN tok IN ($stopsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS ns
       |      FROM pt GROUP BY 1) q
       |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // T3: corpus token statistics.
  def t3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docTokens(s, dir).agg(
      count(lit(1)).as("total_tokens"),
      countDistinct($"tok").as("vocab"),
      (count(lit(1)).cast("double") / countDistinct($"doc_id").cast("double"))
        .as("avg_tokens_per_doc"))
  }
  val t3Sql: String =
    s"""$duckTokCtes
       |SELECT COUNT(*) AS total_tokens, COUNT(DISTINCT tok) AS vocab,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avg_tokens_per_doc
       |FROM pt""".stripMargin

  // T4: positional polynomial fingerprint per document.
  def t4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextOps.fingerprint(docTids(s, dir)).orderBy($"doc_id")
  }
  val t4Sql: String =
    s"""$duckTokCtes
       |SELECT doc_id, CAST(SUM((tid+7)*pos*pos) AS BIGINT) % $P AS fp
       |FROM ids GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // FH1: hashing-trick vectorizer — the fixed-dimension sparse bag-of-words
  // a 100 TB featurization stage feeds to a linear model (no vocabulary
  // broadcast at inference time: the feature index is a pure function of
  // the token). feat = ((69069·tid + 12345) mod P) mod 64 stands in for a
  // string hash with cross-engine determinism (same LCG-on-tid trick as the
  // minhash family; 69069 ⊥ P so the map doesn't degenerate). One hash
  // aggregation on (doc_id, feat) — token stream never shuffles any wider.
  def fh1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docTids(s, dir)
      .filter($"doc_id" < 200)
      .withColumn("feat", (($"tid" * 69069L + 12345L) % P) % 64L)
      .groupBy($"doc_id", $"feat").agg(count(lit(1)).as("v"))
      .orderBy($"doc_id", $"feat")
  }
  val fh1Sql: String =
    s"""$duckTokCtes
       |SELECT doc_id, ((tid * 69069 + 12345) % $P) % 64 AS feat, COUNT(*) AS v
       |FROM ids WHERE doc_id < 200 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // CL1: text normalization — the cleaning stage that runs BEFORE exact
  // dedup so near-identical formatting variants collapse to one hash
  // (lowercase, non-alphanumerics → space, whitespace squeeze, trim).
  // Pure codegen'd string expressions per row, no shuffle at all; the
  // md5-of-normalized digest is exactly what d1's grouping key becomes
  // when the corpus is dirty. Regex classes are deliberately minimal
  // ([^a-z0-9 ], ' +') so RE2-family (Spark) and DuckDB's engine agree.
  def cl1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" < 200)
      .withColumn("norm", trim(regexp_replace(
        regexp_replace(lower($"text"), "[^a-z0-9 ]", " "), " +", " ")))
      .select($"doc_id", length($"norm").cast("long").as("n_chars"),
        md5($"norm").as("digest"))
      .orderBy($"doc_id")
  }
  val cl1Sql: String =
    """SELECT doc_id,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars,
      |  md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS digest
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // M1: multimodal binary-column metadata — opaque bytes + typed metadata;
  // the decode stage itself is stubbed (see graft.multimodal), the Spark
  // plumbing (binary cast, sizes, chunking) is real.
  def m1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("blob", $"text".cast("binary"))
      .withColumn("n_bytes", expr("octet_length(blob)").cast("long"))
      .withColumn("n_chunks", ceil($"n_bytes".cast("double") / 1000.0).cast("long"))
      .filter($"doc_id" < 300)
      .select($"doc_id", $"n_bytes", $"n_chunks")
      .orderBy($"doc_id")
  }
  val m1Sql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(ceil(CAST(octet_length(encode(text)) AS BIGINT) / 1000.0) AS BIGINT) AS n_chunks
      |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin

  // M2: multimodal frame/chunk sampling — every 3rd 100-byte chunk of the
  // binary payload (graft.multimodal.Multimodal.sampleChunks; the oracle
  // mirrors with BLOB substring arithmetic).
  def m2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.multimodal.Multimodal.textAsMedia(
      Tables.documents(s, dir).filter($"doc_id" < 100), "doc_id", "text")
    graft.multimodal.Multimodal.sampleChunks(media, chunkBytes = 100, everyK = 3)
      .select($"media_id".as("doc_id"), $"chunk_idx".cast("long").as("chunk_idx"),
        expr("octet_length(chunk)").cast("long").as("chunk_len"))
      .orderBy($"doc_id", $"chunk_idx")
  }
  val m2Sql: String =
    """WITH b AS (SELECT doc_id, encode(text) AS blob FROM documents WHERE doc_id < 100),
      |n AS (SELECT doc_id, blob,
      |        CAST(ceil(octet_length(blob) / 100.0) AS BIGINT) AS n_chunks FROM b),
      |idx AS (SELECT doc_id, blob, unnest(range(0, n_chunks)) AS chunk_idx
      |        FROM n WHERE n_chunks > 0)
      |SELECT doc_id, chunk_idx,
      |  CAST(LEAST(100, octet_length(blob) - chunk_idx*100) AS BIGINT) AS chunk_len
      |FROM idx WHERE chunk_idx % 3 = 0
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // T6: BM25 relevance scoring — the standard search/curation ranking
  // function. Corpus stats (df_i, avgdl) are one tiny aggregate broadcast
  // to every doc; per-term tfs come from conditional aggregation so the
  // whole score is ONE fixed left-assoc expression (bit-reproducible, the
  // oracle mirrors it verbatim; ln ulp differences absorbed by round 6).
  // At 100 TB: one pass over the token stream + a broadcast — no shuffle
  // beyond the per-doc groupBy.
  private val Bm25Terms = Seq("data", "query", "scan", "join")
  /** Shared BM25 scorer: (doc_id, dl, bm25raw) for docs matching >=1 query
    * term — the exact expression tree t6's oracle hash-matches, reused
    * unrounded by rrf1's sparse ranking leg. */
  private def bm25Docs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tfAggs = Bm25Terms.zipWithIndex.map { case (t, i) =>
      sum(when($"tok" === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    val perDoc = docTokens(s, dir).groupBy($"doc_id")
      .agg(count(lit(1)).as("dl"), tfAggs: _*)
    val dfAggs = Bm25Terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      dfAggs :+ (sum($"dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"): _*)
    def term(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val dfi = col(s"df$i").cast("double")
      val idf = log(lit(1.0) + (($"n_docs".cast("double") - dfi) + lit(0.5)) / (dfi + lit(0.5)))
      idf * (tf * lit(2.2)) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl".cast("double") / $"avgdl")))
    }
    graft.core.ScalarSub.withScalars(perDoc, stats)
      .filter(Bm25Terms.indices.map(i => col(s"tf$i")).reduce(_ + _) > 0)
      .select($"doc_id", $"dl",
        Bm25Terms.indices.map(term).reduce(_ + _).as("bm25raw"))
  }
  def t6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25Docs(s, dir)
      .select($"doc_id", $"dl".as("n_tokens"), round($"bm25raw", 6).as("bm25"))
      .orderBy($"doc_id")
  }
  // Shared DuckDB fragments for the BM25 score (t6 + rrf1's sparse leg).
  private val bm25TfDefs = Bm25Terms.zipWithIndex.map { case (t, i) =>
    s"CAST(SUM(CASE WHEN tok = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
  }.mkString(", ")
  private val bm25DfDefs = Bm25Terms.indices.map(i =>
    s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i").mkString(", ")
  private val bm25TermsSql = Bm25Terms.indices.map { i =>
    val tf = s"CAST(tf$i AS DOUBLE)"
    val dfi = s"CAST(df$i AS DOUBLE)"
    val idf = s"ln(1.0 + ((CAST(n_docs AS DOUBLE) - $dfi) + 0.5) / ($dfi + 0.5))"
    s"$idf * ($tf * 2.2) / ($tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))"
  }.mkString(" + ")
  private val bm25TfSum = Bm25Terms.indices.map(i => s"tf$i").mkString(" + ")
  private val bm25DuckCtes =
    s"""$duckTokCtes,
       |pd AS (SELECT doc_id, COUNT(*) AS dl, $bm25TfDefs FROM pt GROUP BY 1),
       |st AS (SELECT COUNT(*) AS n_docs, $bm25DfDefs,
       |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM pd)""".stripMargin
  val t6Sql: String =
    s"""$bm25DuckCtes
       |SELECT doc_id, dl AS n_tokens, round($bm25TermsSql, 6) AS bm25
       |FROM pd CROSS JOIN st WHERE $bm25TfSum > 0 ORDER BY doc_id""".stripMargin

  // SPM1: distributed sparse×dense matrix multiply — doc-topic scoring as
  // SpMM: the sparse side is the (doc, tid) token stream, the dense side a
  // vocab×4 topic-weight matrix REPRESENTED FUNCTIONALLY (integer LCG of
  // (tid, topic) → weight in [-10, 10]) so nothing is materialized or even
  // broadcast — the classic hashing-trick scoring layer (fh1's vectorizer
  // upgraded to a matrix product). One pass over the token stream, one
  // doc-keyed shuffle carrying 4 longs per doc; argmax is a flat CASE over
  // the pivoted columns, never a window. All-integer math → bit-exact on
  // both engines. At 100 TB this is exactly how a linear scorer runs over
  // a corpus: scan + map-side partial sums + tiny per-doc state.
  def spm1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def w(t: Int): Column =
      (($"tid" * lit(1103515245L) + lit(12345L) +
        lit(t.toLong) * lit(2654435761L)) % lit(1000003L)) % lit(21L) - lit(10L)
    val topicSums = (0 until 4).map(t => sum(w(t)).as(s"s$t"))
    val sc = docTids(s, dir).groupBy($"doc_id")
      .agg(topicSums.head, topicSums.tail: _*)
    sc.select($"doc_id",
        when($"s0" >= $"s1" && $"s0" >= $"s2" && $"s0" >= $"s3", 0L)
          .when($"s1" >= $"s2" && $"s1" >= $"s3", 1L)
          .when($"s2" >= $"s3", 2L).otherwise(3L).as("best_topic"),
        greatest($"s0", $"s1", $"s2", $"s3").as("best_score"),
        $"s0", $"s1", $"s2", $"s3")
      .orderBy($"doc_id")
  }
  val spm1Sql: String = {
    val sums = (0 until 4).map(t =>
      s"CAST(SUM(((tid * 1103515245 + 12345 + $t * 2654435761) % 1000003) % 21 - 10) AS BIGINT) AS s$t")
      .mkString(",\n|    ")
    s"""$duckTokCtes,
       |sc AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM ids GROUP BY 1)
       |SELECT doc_id,
       |  CAST(CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
       |       WHEN s1 >= s2 AND s1 >= s3 THEN 1
       |       WHEN s2 >= s3 THEN 2 ELSE 3 END AS BIGINT) AS best_topic,
       |  greatest(s0, s1, s2, s3) AS best_score, s0, s1, s2, s3
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // PAD1: length-bucketed batching efficiency — the pad-waste audit of the
  // power-of-two bucketing a training dataloader applies before batching
  // (complement of pack1's first-fit packing: pack1 ELIMINATES padding by
  // concatenation, pad1 MEASURES what naive bucketing costs). Bucket =
  // smallest power of two ≥ doc length, floor 16, cap 1024 with overflow
  // truncated — an integer threshold ladder, never floating log2. One
  // doc-length aggregate feeding one ≤8-row bucket rollup.
  def pad1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dl = docTokens(s, dir).groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    var b = when($"dl" <= 16L, 16L)
    for (j <- 5 to 10) b = b.when($"dl" <= (1L << j), 1L << j)
    dl.withColumn("bucket", b.otherwise(1024L))
      .withColumn("kept", least($"dl", lit(1024L)))
      .groupBy($"bucket").agg(
        count(lit(1)).as("n_docs"),
        sum($"kept").as("sum_tokens"),
        sum($"bucket" - $"kept").as("sum_padding"),
        sum($"dl" - $"kept").as("sum_truncated"))
      .select($"bucket", $"n_docs", $"sum_tokens", $"sum_padding",
        $"sum_truncated",
        round($"sum_padding".cast("double") /
          ($"sum_padding" + $"sum_tokens").cast("double"), 9).as("pad_frac"))
      .orderBy($"bucket")
  }
  val pad1Sql: String = {
    val ladder = (4 to 10).map(j => s"WHEN dl <= ${1L << j} THEN CAST(${1L << j} AS BIGINT)")
      .mkString(" ")
    s"""$duckTokCtes,
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM pt GROUP BY 1),
       |bk AS (
       |  SELECT CASE $ladder ELSE CAST(1024 AS BIGINT) END AS bucket,
       |    least(dl, 1024) AS kept, dl
       |  FROM dl)
       |SELECT bucket, COUNT(*) AS n_docs,
       |  CAST(SUM(kept) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(bucket - kept) AS BIGINT) AS sum_padding,
       |  CAST(SUM(dl - kept) AS BIGINT) AS sum_truncated,
       |  round(CAST(SUM(bucket - kept) AS DOUBLE) /
       |        CAST(SUM(bucket - kept) + SUM(kept) AS DOUBLE), 9) AS pad_frac
       |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // RRF1: hybrid retrieval — reciprocal-rank fusion (Cormack et al.,
  // SIGIR 2009) of the dense leg (brute cosine vs the vec_id=0 query,
  // s1's machinery) and the sparse leg (BM25 vs the fixed term set, t6's
  // scorer, unrounded). Each leg keeps only its global top-50
  // (TakeOrderedAndProject — a per-partition heap then a k-row merge, the
  // scale path for top-k); ranks are assigned to the 50-row lists by
  // GlobalRank (no single-partition window anywhere), and the fusion is a
  // full-outer join of two k-row frames: rrf = Σ 1/(60 + rank) over the
  // legs that retrieved the doc. At 100 TB both legs stay one scan + one
  // bounded top-k; the fusion cost is O(k). Embedding vec_id doubles as
  // the retrieval doc_id (the tables ship aligned id spaces).
  def rrf1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qe"), $"n2".as("qn2"))
    val denseTop = graft.core.ScalarSub.withScalars(e.filter($"vec_id" =!= 0), q)
      .select($"vec_id".as("doc_id"),
        (VectorOps.dotNative($"embedding", $"qe") /
          (sqrt($"n2") * sqrt($"qn2"))).as("cos"))
      .orderBy($"cos".desc, $"doc_id").limit(50)
    val dense = graft.operators.GlobalRank
      .withRowNumber(denseTop, Seq($"cos".desc, $"doc_id"), "dr", nTotal = None)
      .select($"doc_id", $"dr")
    val sparseTop = bm25Docs(s, dir)
      .orderBy($"bm25raw".desc, $"doc_id").limit(50)
    val sparse = graft.operators.GlobalRank
      .withRowNumber(sparseTop, Seq($"bm25raw".desc, $"doc_id"), "sr", nTotal = None)
      .select($"doc_id", $"sr")
    dense.join(sparse, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + $"dr".cast("double")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + $"sr".cast("double")), lit(0.0)))
      .orderBy($"rrf".desc, $"doc_id").limit(20)
      .select($"doc_id", $"dr".as("dense_rank"), $"sr".as("sparse_rank"),
        round($"rrf", 9).as("rrf_score"))
  }
  val rrf1Sql: String = {
    val qcos = VectorOps.cosineSqlDuck("a.embedding", "qv.qe", 64)
    s"""$bm25DuckCtes,
       |scored AS (SELECT doc_id, $bm25TermsSql AS bm25raw
       |           FROM pd CROSS JOIN st WHERE $bm25TfSum > 0),
       |sparse AS (SELECT doc_id, sr FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25raw DESC, doc_id) AS sr
       |    FROM scored) t WHERE sr <= 50),
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |dcos AS (SELECT a.vec_id AS doc_id, $qcos AS cos
       |         FROM embeddings a, qv WHERE a.vec_id <> 0),
       |dense AS (SELECT doc_id, dr FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS dr
       |    FROM dcos) t WHERE dr <= 50),
       |fused AS (SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id, d.dr, s.sr,
       |    COALESCE(1.0 / (60.0 + CAST(d.dr AS DOUBLE)), 0.0) +
       |    COALESCE(1.0 / (60.0 + CAST(s.sr AS DOUBLE)), 0.0) AS rrf
       |  FROM dense d FULL OUTER JOIN sparse s ON d.doc_id = s.doc_id)
       |SELECT doc_id, dr AS dense_rank, sr AS sparse_rank,
       |  round(rrf, 9) AS rrf_score
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
  }

  // T7: repetition statistics (Gopher-style quality rules) — most-frequent
  // token fraction, most-frequent bigram fraction, duplicate-token
  // fraction, and the keep/drop decision. All integer counts + single
  // divisions: bit-exact with no rounding. Bigrams come from a lead()
  // window partitioned by doc (never a global window); at 100 TB this is
  // one shuffle on doc_id shared by both aggregates. One explicit
  // repartition(doc_id) under both consumers of the token stream (the nv1
  // co-partition device) was measured a loss at the bench SF:
  // OPTIMIZATION_r11.md §6, sf0.1 local[32] 0.414 → 0.640 s.
  def t7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pt = docTokens(s, dir)
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val bg = pt.withColumn("nxt", lead($"tok", 1).over(w))
      .filter($"nxt".isNotNull)
      .select($"doc_id", concat_ws("_", $"tok", $"nxt").as("bg"))
    val bgStats = bg.groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_bg"), sum($"c").as("n_bg"))
    val tokStats = pt.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_tok"), sum($"c").as("n_tok"),
        count(lit(1)).as("n_distinct"))
    // LEFT join: a one-token doc has no bigrams but still needs a verdict
    // (no repetition possible → bigram fraction 0, keep decided by tokens)
    tokStats.join(bgStats, Seq("doc_id"), "left")
      .withColumn("top_tok_frac", $"top_tok".cast("double") / $"n_tok".cast("double"))
      .withColumn("top_bg_frac",
        coalesce($"top_bg".cast("double") / $"n_bg".cast("double"), lit(0.0)))
      .withColumn("dup_tok_frac",
        ($"n_tok" - $"n_distinct").cast("double") / $"n_tok".cast("double"))
      .withColumn("keep", $"top_tok_frac" <= 0.2 && $"top_bg_frac" <= 0.2)
      .select($"doc_id", $"top_tok_frac", $"top_bg_frac", $"dup_tok_frac", $"keep")
      .orderBy($"doc_id")
  }
  val t7Sql: String =
    s"""$duckTokCtes,
       |bg AS (SELECT doc_id, tok || '_' || nxt AS bg FROM (
       |         SELECT doc_id, tok, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |         FROM pt) q WHERE nxt IS NOT NULL),
       |bs AS (SELECT doc_id, MAX(c) AS top_bg, CAST(SUM(c) AS BIGINT) AS n_bg FROM (
       |         SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2) q GROUP BY 1),
       |ts AS (SELECT doc_id, MAX(c) AS top_tok, CAST(SUM(c) AS BIGINT) AS n_tok,
       |         COUNT(*) AS n_distinct FROM (
       |         SELECT doc_id, tok, COUNT(*) AS c FROM pt GROUP BY 1, 2) q GROUP BY 1)
       |SELECT ts.doc_id,
       |  CAST(top_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_tok_frac,
       |  COALESCE(CAST(top_bg AS DOUBLE) / CAST(n_bg AS DOUBLE), 0.0) AS top_bg_frac,
       |  CAST(n_tok - n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) AS dup_tok_frac,
       |  (CAST(top_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) <= 0.2 AND
       |   COALESCE(CAST(top_bg AS DOUBLE) / CAST(n_bg AS DOUBLE), 0.0) <= 0.2) AS keep
       |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id ORDER BY ts.doc_id""".stripMargin

  // D7: benchmark decontamination — flag training docs sharing 3-gram
  // shingles with a held-out eval set (doc_id % 10 = 0 stands in for the
  // benchmark corpus). The eval shingle set is benchmark-sized → broadcast;
  // candidate generation is a shingle equijoin, never O(n²). This is the
  // standard eval-overlap scrub a training-data pipeline runs before
  // training.
  def d7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, dir).select($"doc_id", $"sh")
    val evalSh = sh.filter($"doc_id" % 10 === 0).select($"doc_id".as("eid"), $"sh")
    val train = sh.filter($"doc_id" % 10 =!= 0)
    val n = train.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val hits = train.join(broadcast(evalSh), "sh")
      .groupBy($"doc_id").agg(countDistinct($"sh").as("n_contaminated"),
        countDistinct($"eid").as("n_eval_docs"))
    n.join(hits, "doc_id")
      .withColumn("contam_frac",
        $"n_contaminated".cast("double") / $"n_sh".cast("double"))
      .select($"doc_id", $"n_sh", $"n_contaminated", $"n_eval_docs", $"contam_frac")
      .orderBy($"doc_id")
  }
  val d7Sql: String =
    s"""$duckTokCtes,
       |sh AS (SELECT DISTINCT doc_id, sh FROM (
       |         SELECT doc_id,
       |           tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
       |           lead(tok, 2) OVER w AS t2
       |         FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) q
       |       WHERE t2 IS NOT NULL),
       |ev AS (SELECT doc_id AS eid, sh FROM sh WHERE doc_id % 10 = 0),
       |tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 10 <> 0),
       |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM tr GROUP BY 1),
       |h AS (SELECT t.doc_id, COUNT(DISTINCT t.sh) AS n_contaminated,
       |        COUNT(DISTINCT e.eid) AS n_eval_docs
       |      FROM tr t JOIN ev e ON t.sh = e.sh GROUP BY 1)
       |SELECT n.doc_id, n_sh, n_contaminated, n_eval_docs,
       |  CAST(n_contaminated AS DOUBLE) / CAST(n_sh AS DOUBLE) AS contam_frac
       |FROM n JOIN h ON n.doc_id = h.doc_id ORDER BY n.doc_id""".stripMargin

  // D8: INCREMENTAL dedup — the production shape: a new ingest batch
  // (doc_id % 10 = 7 stands in for "today's crawl") deduped AGAINST the
  // existing corpus, not within itself. Same 3-gram-Jaccard semantics as
  // d4, but the join is new×corpus only (no corpus self-pairs — at 100 TB
  // the standing corpus is orders of magnitude bigger than the increment,
  // and re-pairing it every ingest would dwarf the real work). Every new
  // doc appears in the output with a keep/drop verdict (left join).
  def d8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = docShingles(s, dir)
    val newSh = sh.filter($"doc_id" % 10 === 7)
    val corpusSh = sh.filter($"doc_id" % 10 =!= 7)
    val nNew = newSh.groupBy($"doc_id").agg(count(lit(1)).as("na"))
    val nCorp = corpusSh.groupBy($"doc_id".as("cid")).agg(count(lit(1)).as("nb"))
    val cand = newSh.select($"doc_id", $"lang", $"sh")
      .join(corpusSh.select($"doc_id".as("cid"), $"lang", $"sh"), Seq("lang", "sh"))
      .groupBy($"doc_id", $"cid").agg(count(lit(1)).as("c"))
      .join(nNew, "doc_id").join(nCorp, "cid")
      .withColumn("jacc", $"c".cast("double") / ($"na" + $"nb" - $"c").cast("double"))
      .filter($"c" >= 3 && $"jacc" >= 0.2)
    val verdict = cand.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_dups"), max($"jacc").as("best_jacc"))
    Tables.documents(s, dir).filter($"doc_id" % 10 === 7)
      .join(verdict, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_dups", lit(0L)).as("n_dups"),
        round(coalesce($"best_jacc", lit(0.0)), 6).as("best_jacc"),
        ($"n_dups".isNull).as("keep"))
      .orderBy($"doc_id")
  }
  val d8Sql: String =
    s"""$duckTokCtes,
       |sh AS (SELECT DISTINCT doc_id, lang, sh FROM (
       |         SELECT doc_id, lang,
       |           tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
       |           lead(tok, 2) OVER w AS t2
       |         FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) q
       |       WHERE t2 IS NOT NULL),
       |ns AS (SELECT doc_id, lang, sh FROM sh WHERE doc_id % 10 = 7),
       |cs AS (SELECT doc_id AS cid, lang, sh FROM sh WHERE doc_id % 10 <> 7),
       |na AS (SELECT doc_id, COUNT(*) AS na FROM ns GROUP BY 1),
       |nb AS (SELECT cid, COUNT(*) AS nb FROM cs GROUP BY 1),
       |cand AS (
       |  SELECT n.doc_id, c.cid, COUNT(*) AS c
       |  FROM ns n JOIN cs c ON n.sh = c.sh AND n.lang = c.lang
       |  GROUP BY 1, 2),
       |j AS (SELECT cand.doc_id, cand.cid,
       |        CAST(c AS DOUBLE) / CAST(na.na + nb.nb - c AS DOUBLE) AS jacc, c
       |      FROM cand JOIN na ON cand.doc_id = na.doc_id
       |                JOIN nb ON cand.cid = nb.cid
       |      WHERE c >= 3
       |        AND CAST(c AS DOUBLE) / CAST(na.na + nb.nb - c AS DOUBLE) >= 0.2),
       |v AS (SELECT doc_id, COUNT(*) AS n_dups, MAX(jacc) AS best_jacc
       |      FROM j GROUP BY 1)
       |SELECT d.doc_id, coalesce(v.n_dups, 0) AS n_dups,
       |  round(coalesce(v.best_jacc, 0.0), 6) AS best_jacc,
       |  v.n_dups IS NULL AS keep
       |FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
       |WHERE d.doc_id % 10 = 7 ORDER BY d.doc_id""".stripMargin

  // T8: unigram language-model quality score (the CCNet-style LM filter):
  // corpus unigram probabilities → per-doc mean token log-probability →
  // keep/drop. The unigram table is vocabulary-sized → broadcast; the doc
  // side is one groupBy — at 100 TB this is one shuffle on doc_id plus a
  // broadcast, no global state. Deriving the unigram table from the
  // per-doc-term counts (one shared exchange) was measured a loss:
  // OPTIMIZATION_r11.md §6, sf1 local[32] 0.894 → 1.151 s.
  def t8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pt = docTokens(s, dir)
    val dc = pt.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val tokC = pt.groupBy($"tok").agg(count(lit(1)).as("ct"))
    val tot = tokC.agg(sum($"ct").as("total"))
    // per-doc log-prob is a LEFT FOLD over the tok-sorted term list, not an
    // unordered double SUM — float addition is non-associative, and the
    // partial-aggregation order would otherwise differ between engines
    // (and between Spark runs). Same discipline as the dot products.
    dc
      .join(broadcast(tokC), "tok")
      .transform(graft.core.ScalarSub.withScalars(_, tot))
      .withColumn("term", $"c".cast("double") *
        log($"ct".cast("double") / $"total".cast("double")))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sort_array(collect_list(struct($"tok", $"term"))).as("ts"))
      .withColumn("lp", aggregate($"ts", lit(0.0), (acc, x) => acc + x("term")))
      .withColumn("avg_logprob", round($"lp" / $"n_tokens".cast("double"), 6))
      .withColumn("keep", $"avg_logprob" >= -3.5)
      .select($"doc_id", $"n_tokens", $"avg_logprob", $"keep")
      .orderBy($"doc_id")
  }
  val t8Sql: String =
    s"""$duckTokCtes,
       |tc AS (SELECT tok, COUNT(*) AS ct FROM pt GROUP BY 1),
       |tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS total FROM tc),
       |dc AS (SELECT doc_id, dc0.tok AS tok, c,
       |         CAST(c AS DOUBLE) * ln(CAST(ct AS DOUBLE) / CAST(total AS DOUBLE)) AS term
       |       FROM (SELECT doc_id, tok, COUNT(*) AS c FROM pt GROUP BY 1, 2) dc0
       |       JOIN tc ON dc0.tok = tc.tok CROSS JOIN tt),
       |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |          list_reduce(list_transform(
       |            list_sort(list(struct_pack(tok := tok, term := term))),
       |            x -> x.term), (a, b) -> a + b) AS lp
       |        FROM dc GROUP BY doc_id)
       |SELECT doc_id, n_tokens, round(lp / CAST(n_tokens AS DOUBLE), 6) AS avg_logprob,
       |  round(lp / CAST(n_tokens AS DOUBLE), 6) >= -3.5 AS keep
       |FROM agg ORDER BY doc_id""".stripMargin

  // T10: bigram language-model score with add-1 smoothing — the next rung
  // above t8's unigram filter: per-doc mean ln P(w2|w1) where
  // P(w2|w1) = (c(w1,w2)+1)/(c(w1·)+V). The bigram and unigram count
  // tables are dictionary²-sized (broadcast); the doc side is one shuffle
  // on doc_id. Same determinism discipline as t8: exact integer counts
  // into one double division + ln, per-doc sum as a LEFT FOLD over the
  // (w1,w2)-sorted term list, round(...,6) at the end.
  /** t11: PMI collocations — the classic "which word pairs belong
    * together" statistic: PMI(a,b) = ln(p(ab) / (p(a)·p(b))) over adjacent
    * bigrams, min support 5, top 20. Unigram/total counts are vocabulary-
    * sized broadcasts; the bigram table is the only shuffle. The ln
    * argument is assembled as ONE left-associated double product on both
    * engines (cab·Nt·Nt / (Nb·ca·cb)) — identical operand order gives the
    * bit-identical IEEE result t8/t10 already rely on.
    *
    * The total bigram count `nb` aggregates the bigram stream a second
    * time; deriving it from the (w1, w2) count table (Σ cab) so the stream
    * is computed once was measured a loss: OPTIMIZATION_r11.md §6, sf1
    * local[32] 0.686 → 0.725 s.
    */
  def t11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pt = docTokens(s, dir)
    val bg = bigrams(s, dir).select($"w1", $"w2")
    val bc = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("cab"))
    val ug = pt.groupBy($"tok").agg(count(lit(1)).as("cu"))
    val nt = pt.agg(count(lit(1)).as("nt"))
    val nb = bg.agg(count(lit(1)).as("nb"))
    bc.filter($"cab" >= 5)
      .join(broadcast(ug.select($"tok".as("w1"), $"cu".as("ca"))), "w1")
      .join(broadcast(ug.select($"tok".as("w2"), $"cu".as("cb"))), "w2")
      .transform(graft.core.ScalarSub.withScalars(_, nt))
      .transform(graft.core.ScalarSub.withScalars(_, nb))
      .select($"w1", $"w2", $"cab",
        round(log($"cab".cast("double") * $"nt".cast("double") * $"nt".cast("double") /
          ($"nb".cast("double") * $"ca".cast("double") * $"cb".cast("double"))), 6)
          .as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2").limit(20)
  }
  val t11Sql: String =
    s"""$duckTokCtes,
       |bg0 AS (SELECT doc_id, tok AS w1,
       |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |        FROM pt),
       |bg AS (SELECT w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
       |bc AS (SELECT w1, w2, COUNT(*) AS cab FROM bg GROUP BY 1, 2),
       |ug AS (SELECT tok, COUNT(*) AS cu FROM pt GROUP BY 1),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM pt),
       |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bg)
       |SELECT bc.w1, bc.w2, cab,
       |  round(ln(CAST(cab AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE) /
       |    (CAST(nb AS DOUBLE) * CAST(ca.cu AS DOUBLE) * CAST(cb.cu AS DOUBLE))), 6) AS pmi
       |FROM bc JOIN ug ca ON bc.w1 = ca.tok JOIN ug cb ON bc.w2 = cb.tok, nt, nb
       |WHERE cab >= 5
       |ORDER BY pmi DESC, bc.w1, bc.w2 LIMIT 20""".stripMargin

  /** Bigram stream (doc_id, w1, w2) for t10/t11: consecutive pairs are
    * built ARRAY-SIDE before the explode — zip_with over the token array,
    * the tc1 edge-build device — so there is NO doc-keyed exchange and no
    * per-doc sort (adopted r10 over the oracle's window-`lead` form;
    * OPTIMIZATION_r10.md §6). The pair multiset is the window form's:
    * lead(tok) over (doc_id ORDER BY pos) ≡ zip of the same array with its
    * own tail, and every consumer aggregates (order never observed);
    * ShapeEquivalenceSpec compares the two streams. */
  private[llm] def bigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """zip_with(slice(toks, 1, size(toks) - 1),
          |         slice(toks, 2, size(toks) - 1),
          |         (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("bg"))
      .select($"doc_id", $"bg.w1", $"bg.w2")
  }

  /** The bigram stream is consumed twice: for the global (w1, w2) counts
    * and for the per-doc counts. Deriving the global table from the
    * per-doc one (one shared exchange) was measured a loss:
    * OPTIMIZATION_r11.md §6, sf1 local[32] 2.167 → 2.743 s. */
  def t10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pt = docTokens(s, dir)
    val bg = bigrams(s, dir)
    val dc = bg.groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("c"))
    val bc = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("cb"))
    val uc = bc.groupBy($"w1").agg(sum($"cb").as("cu"))
    val vv = pt.agg(countDistinct($"tok").as("v"))
    dc
      .join(broadcast(bc), Seq("w1", "w2"))
      .join(broadcast(uc), Seq("w1"))
      .transform(graft.core.ScalarSub.withScalars(_, vv))
      .withColumn("term", $"c".cast("double") *
        log(($"cb" + 1).cast("double") / ($"cu" + $"v").cast("double")))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"),
        sort_array(collect_list(struct($"w1", $"w2", $"term"))).as("ts"))
      .withColumn("lp", aggregate($"ts", lit(0.0), (acc, x) => acc + x("term")))
      .select($"doc_id", $"n_bigrams",
        round($"lp" / $"n_bigrams".cast("double"), 6).as("bigram_logprob"))
      .orderBy($"doc_id")
  }
  val t10Sql: String =
    s"""$duckTokCtes,
       |bg0 AS (SELECT doc_id, tok AS w1,
       |          lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |        FROM pt),
       |bg AS (SELECT doc_id, w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
       |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
       |uc AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM bc GROUP BY 1),
       |vv AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM pt),
       |dc AS (SELECT doc_id, d0.w1, d0.w2, c,
       |         CAST(c AS DOUBLE) *
       |           ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE)) AS term
       |       FROM (SELECT doc_id, w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3) d0
       |       JOIN bc ON d0.w1 = bc.w1 AND d0.w2 = bc.w2
       |       JOIN uc ON d0.w1 = uc.w1 CROSS JOIN vv),
       |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |          list_reduce(list_transform(
       |            list_sort(list(struct_pack(w1 := w1, w2 := w2, term := term))),
       |            x -> x.term), (a, b) -> a + b) AS lp
       |        FROM dc GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  round(lp / CAST(n_bigrams AS DOUBLE), 6) AS bigram_logprob
       |FROM agg ORDER BY doc_id""".stripMargin

  // T9: TF-IDF top terms per document — the classic relevance weighting,
  // top-3 by score with deterministic tok tiebreak. df table is
  // vocabulary-sized → broadcast; ranking is a doc-partitioned window.
  // Deriving n_docs and the df table from the per-doc-term counts (one
  // shared (doc_id, tok) exchange) was measured a wash: OPTIMIZATION_r11.md
  // §6, sf0.1 local[32] 0.660 vs 0.657 s.
  def t9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pt = docTokens(s, dir)
    val dc = pt.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val nDocs = pt.agg(countDistinct($"doc_id").as("n_docs"))
    val dfT = pt.select($"doc_id", $"tok").distinct()
      .groupBy($"tok").agg(count(lit(1)).as("dft"))
    // rank on the ROUNDED score: the raw ln-derived value can differ by an
    // ulp between engines, which would flip row_number for near-equal
    // scores — round first, deterministic tok tiebreak second
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"tok")
    dc
      .join(broadcast(dfT), "tok")
      .transform(graft.core.ScalarSub.withScalars(_, nDocs))
      .withColumn("tfidf", round(
        $"c".cast("double") * log($"n_docs".cast("double") / $"dft".cast("double")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3 && $"tfidf" > 0)
      .select($"doc_id", $"rk", $"tok", $"tfidf")
      .orderBy($"doc_id", $"rk")
  }
  val t9Sql: String =
    s"""$duckTokCtes,
       |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM pt),
       |dft AS (SELECT tok, COUNT(*) AS dft FROM (SELECT DISTINCT doc_id, tok FROM pt) u GROUP BY 1),
       |sc AS (SELECT dc.doc_id, dc.tok,
       |         round(CAST(c AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(dft AS DOUBLE)), 6) AS tfidf
       |       FROM (SELECT doc_id, tok, COUNT(*) AS c FROM pt GROUP BY 1, 2) dc
       |       JOIN dft ON dc.tok = dft.tok CROSS JOIN nd),
       |rk AS (SELECT doc_id, tok, tfidf,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rk
       |       FROM sc)
       |SELECT doc_id, rk, tok, tfidf
       |FROM rk WHERE rk <= 3 AND tfidf > 0 ORDER BY doc_id, rk""".stripMargin

  // S4: k-means centroid UPDATE step over the embedding corpus — assign
  // every vector to its nearest centroid (s3's corpus-sized IVF
  // assignment), then compute the per-cell mean vector: explode dimensions
  // → one groupBy on (cell, dim). This is the shuffle pattern of one
  // distributed EM iteration; at 100 TB the assignment is a k-centroid
  // broadcast and the update is a (k·64)-key aggregation with map-side
  // partials — the group count grows with [[ivfK]] but stays orders below
  // the row count, so the combine does the work.
  def s4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    // per-(cell, dim) mean is a LEFT FOLD over the vec_id-sorted component
    // list, not an unordered double SUM (same determinism discipline as the
    // dot products and t8's log-prob fold)
    e.join(ivfCells(s, dir), "vec_id")
      .select($"vec_id", $"cell", posexplode($"embedding").as(Seq("dim0", "v")))
      .withColumn("dim", ($"dim0" + 1).cast("long"))
      .groupBy($"cell", $"dim")
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct($"vec_id", $"v"))).as("vs"))
      .withColumn("sv", aggregate($"vs", lit(0.0), (acc, x) => acc + x("v").cast("double")))
      .select($"cell", $"dim", $"n",
        round($"sv" / $"n".cast("double"), 6).as("mean_v"))
      .orderBy($"cell", $"dim")
  }
  val s4Sql: String = {
    s"""WITH $ivfCellsSqlCtes,
       |ex AS (SELECT vec_id, cell, s.dim AS dim, s.v AS v FROM (
       |         SELECT e.vec_id, cells.cell,
       |           unnest(list_transform(e.embedding, (x, i) -> struct_pack(dim := i, v := x))) AS s
       |         FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id) t)
       |SELECT cell, dim, COUNT(*) AS n,
       |  round(list_reduce(list_transform(
       |          list_sort(list(struct_pack(vec_id := vec_id, v := v))),
       |          x -> CAST(x.v AS DOUBLE)), (a, b) -> a + b)
       |        / CAST(COUNT(*) AS DOUBLE), 6) AS mean_v
       |FROM ex GROUP BY 1, 2 ORDER BY cell, dim""".stripMargin
  }

  // HH1: heavy hitters per language — exact top-3 tokens alongside a
  // CHECKABLE guarantee flag from the Misra–Gries sketch (every token with
  // count > n/(k+1) must be among the sketch's surviving keys; the oracle
  // computes the exact side and expects TRUE, the sk2 pattern). At 100 TB
  // the sketch pass shuffles k entries per group where the exact pass
  // shuffles the vocabulary — the sketch IS the first pass of two-pass
  // top-k; here both run so the guarantee is asserted per group.
  private val HhK = 8 // Misra–Gries width; the guarantee predicate uses HhK+1
  def hh1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // lang rides through the memoized token stream (docTokens keep-cols) —
    // no per-doc metadata join, so nothing corpus-sized is ever broadcast
    val pt = docTokens(s, dir)
    val mg = udaf(new graft.functions.Aggregators.MisraGries(HhK))
    val sk = pt.groupBy($"lang").agg(mg($"tok").as("hh_keys"), count(lit(1)).as("n"))
    val exact = pt.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"lang").orderBy($"c".desc, $"tok")
    val top3 = exact
      .withColumn("rk", row_number().over(w).cast("long")).filter($"rk" <= 3)
    // integer-exact heavy-hitter predicate: c > n/(k+1)  ⇔  c*(k+1) > n
    val flag = exact.join(sk, "lang")
      .filter($"c" * (HhK + 1) > $"n")
      .groupBy($"lang")
      .agg((sum(when(array_contains($"hh_keys", $"tok"), 0L).otherwise(1L)) === 0)
        .as("hh_captured"))
    top3.join(flag, Seq("lang"), "left")
      .select($"lang", $"rk", $"tok", $"c",
        coalesce($"hh_captured", lit(true)).as("hh_captured"))
      .orderBy($"lang", $"rk")
  }
  val hh1Sql: String =
    s"""$duckTokCtes,
       |ex AS (SELECT lang, tok, COUNT(*) AS c FROM pt GROUP BY 1, 2),
       |rk AS (SELECT lang, tok, c,
       |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rk
       |       FROM ex)
       |SELECT lang, rk, tok, c, TRUE AS hh_captured
       |FROM rk WHERE rk <= 3 ORDER BY lang, rk""".stripMargin

  // SM2: deterministic stratified sample — k docs per (lang, source)
  // stratum, ordered by md5(text) (a uniform, engine-reproducible pseudo
  // random key) with doc_id tiebreak. The rank is a MERGEABLE bottom-k
  // aggregate (Aggregators.BottomKByStringKey): (lang, source) has ≤ ~25
  // strata, so a row_number window partitioned by them would sort the
  // whole corpus in ≤ 25 tasks at 100 TB; the aggregator keeps ≤ k
  // (md5, id) pairs per stratum on the shuffle. Payload columns come
  // back via a broadcast join of the ~75-row sample against a pruned
  // (doc_id, n_chars) scan — the standard sample-then-fetch shape.
  def sm2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bk = udaf(new graft.functions.Aggregators.BottomKByStringKey(3))
    val docs = Tables.documents(s, dir)
    val picked = docs
      .groupBy($"lang", $"source")
      .agg(bk(md5($"text"), $"doc_id").as("ids"))
      .select($"lang", $"source", posexplode($"ids").as(Seq("pos", "doc_id")))
      .select($"lang", $"source", ($"pos" + 1).cast("long").as("rk"), $"doc_id")
    docs.select($"doc_id", $"n_chars")
      .join(broadcast(picked), Seq("doc_id"))
      .select($"lang", $"source", $"rk", $"doc_id", $"n_chars")
      .orderBy($"lang", $"source", $"rk")
  }
  val sm2Sql: String =
    """SELECT lang, source, rk, doc_id, n_chars FROM (
      |  SELECT lang, source, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY md5(text), doc_id) AS rk
      |  FROM documents) q WHERE rk <= 3 ORDER BY lang, source, rk""".stripMargin

  // SEM1: semantic dedup (the SemDeDup shape, Abbas et al. 2023): cluster
  // the embedding space — here s3's IVF cells, the SAME memoized
  // assignment the ANN/k-means stack shares — then near-dup ONLY within a
  // cluster and drop every vector that has a higher-similarity lower-id
  // neighbor there. The cluster bound is what makes semantic dedup
  // tractable: pair candidates are |cell|²-sized, never corpus²-sized, and
  // k grows ∝ corpus ([[ivfK]]: n / [[ivfCellTarget]]) so the per-cell
  // population — and with it this query's pair volume per row — stays
  // constant. The within-cell join rides [[graft.operators.BoundedSelfJoin]]
  // (cap 4096) — one oversized cell degrades to a capped scan instead of
  // detonating a task. τ = 0.35 sits above the corpus's within-cell bulk
  // and below its near-dup max cosine, so the drop set stays non-trivial
  // at every SF under the corpus-sized k (750 rows at sf0.1, 14k at sf1).
  def sem1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val ec = e.join(ivfCells(s, dir), "vec_id")
    graft.operators.BoundedSelfJoin.pairs(ec, "cell", "vec_id", cap = 4096)
      .select($"a.cell".as("cell"), $"a.vec_id".as("va"), $"b.vec_id".as("vb"),
        (VectorOps.dotNative($"a.embedding", $"b.embedding") /
          (sqrt($"a.n2") * sqrt($"b.n2"))).as("cos"))
      .filter($"cos" > 0.35)
      .groupBy($"cell", $"vb")
      .agg(count(lit(1)).as("n_dups"), min($"va").as("keeper"),
        max($"cos").as("max_cos"))
      .select($"cell", $"vb".as("dropped_id"), $"keeper", $"n_dups",
        round($"max_cos", 6).as("max_cos"))
      .orderBy($"cell", $"dropped_id")
  }
  val sem1Sql: String = {
    val pairCos = VectorOps.cosineSqlDuck("ea.embedding", "eb.embedding", 64)
    s"""WITH $ivfCellsSqlCtes,
       |p AS (SELECT ca.cell AS cell, ca.vec_id AS va, cb.vec_id AS vb, $pairCos AS cos
       |      FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
       |      JOIN embeddings ea ON ea.vec_id = ca.vec_id
       |      JOIN embeddings eb ON eb.vec_id = cb.vec_id)
       |SELECT cell, vb AS dropped_id, min(va) AS keeper, COUNT(*) AS n_dups,
       |  round(max(cos), 6) AS max_cos
       |FROM p WHERE cos > 0.35 GROUP BY cell, vb ORDER BY cell, dropped_id""".stripMargin
  }

  // KNN1: corpus k-NN GRAPH — every vector's top-3 neighbors by cosine
  // among its IVF cell-mates (the precursor structure for SemDeDup
  // clustering, kNN-LM retrieval, and graph-based ANN index builds —
  // s1/s2/s5 answer one query's top-k; this materializes the all-nodes
  // edge list). Scale shape: candidates are the same BoundedSelfJoin
  // within-cell pairs as sem1 (hot cells fan out across capped chunk-pair
  // tasks, never single-task O(n²)); the per-vector top-3 is a MERGEABLE
  // bottom-k aggregate over priority −cos ([[graft.functions.Aggregators.BottomKPairs]]
  // — ≤ 3 (cos, nb) pairs per vector on the shuffle, no rank window over
  // cell-sized groups).
  def knn1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .withColumn("n2", VectorOps.dotNative($"embedding", $"embedding"))
    val ec = e.join(ivfCells(s, dir), "vec_id")
    val p = graft.operators.BoundedSelfJoin.pairs(ec, "cell", "vec_id", cap = 4096)
      .select($"a.vec_id".as("va"), $"b.vec_id".as("vb"),
        (VectorOps.dotNative($"a.embedding", $"b.embedding") /
          (sqrt($"a.n2") * sqrt($"b.n2"))).as("cos"))
    // MEASURED NEGATIVE (r8, interleaved one-JVM A/B at sf1/local[32],
    // SCALING.md "r8 decision probes" knn1 row): emitting both directions
    // via ONE explode(array(struct(va,vb), struct(vb,va))) — to avoid the
    // union's second dot-product evaluation — ran 9.2 s vs the union's
    // 5.5 s best. The recomputed dot is 64 codegen'd FMAs per pair; the
    // explode pays a per-row array-of-structs allocation plus a Generate
    // row copy, which costs more than the arithmetic it saves.
    val sym = p.select($"va".as("src"), $"vb".as("nb"), $"cos")
      .unionAll(p.select($"vb".as("src"), $"va".as("nb"), $"cos"))
    val bk = udaf(new graft.functions.Aggregators.BottomKPairs(3))
    sym.groupBy($"src")
      .agg(bk(-$"cos", $"nb").as("nbs"))
      .select($"src", posexplode($"nbs").as(Seq("pos", "e")))
      .select($"src", ($"pos" + 1).cast("long").as("rk"),
        $"e._2".as("nb"), round(-$"e._1", 6).as("cos"))
      .orderBy($"src", $"rk")
  }
  val knn1Sql: String = {
    val pairCos = VectorOps.cosineSqlDuck("ea.embedding", "eb.embedding", 64)
    s"""WITH $ivfCellsSqlCtes,
       |sym AS (SELECT ca.vec_id AS src, cb.vec_id AS nb, $pairCos AS cos
       |        FROM cells ca JOIN cells cb
       |          ON ca.cell = cb.cell AND ca.vec_id <> cb.vec_id
       |        JOIN embeddings ea ON ea.vec_id = ca.vec_id
       |        JOIN embeddings eb ON eb.vec_id = cb.vec_id),
       |r AS (SELECT src, nb, cos,
       |        ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, nb) AS rk
       |      FROM sym)
       |SELECT src, rk, nb, round(cos, 6) AS cos
       |FROM r WHERE rk <= 3 ORDER BY src, rk""".stripMargin
  }

  // D9: set-similarity join with PREFIX FILTERING (the PPJoin/AllPairs
  // candidate pruner — Bayardo et al. 2007, Xiao et al. 2008): order every
  // document's shingle set by a GLOBAL canonical order (df ascending —
  // rarest first), and index only the first |x| − ⌈t·|x|⌉ + 1 shingles. Two
  // sets with Jaccard ≥ t MUST share a prefix shingle under any common
  // order (if they disagreed on both prefixes, the overlap is too small),
  // so the equijoin on prefix shingles is a COMPLETE candidate generator —
  // at a fraction of d4's any-shared-shingle volume, and biased toward
  // rare shingles whose join fan-out is smallest. The df table scales with
  // the corpus, so it joins by shuffle (never broadcast); the verify step
  // is an exact Jaccard on the carried sorted arrays.
  private val D9Tau = 0.5
  /** Per-doc canonical-ordered shingle arrays + prefixes. Shingles are
    * xxhash64'd ONCE at the boundary (r9): every downstream stage — the
    * df aggregation, the df join-back, the per-doc sorted collect, the
    * prefix equijoin keys, and the verify intersect — carries 8-byte
    * longs where the r8 shape shuffled ~25-byte shingle STRINGS through
    * the three build exchanges and re-hashed per exploded prefix row
    * (measured stage by stage, SCALING.md "r9 decision probes": the build
    * was 3.5 s of d9's 5.9 s sf1 total, pairs+verify 2.4 s). The
    * canonical order becomes
    * (df asc, hash asc) — any global total order preserves PPJoin
    * completeness (the naive-generator oracle seals it). A cross-shingle
    * hash collision perturbs one df count / one |∩| with probability
    * ~2⁻⁶⁴ per shingle pair — the same accepted class as the r8 verify
    * hashing (the gate-SF oracle match is the empirical seal). */
  private[llm] def d9Docs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // lang folds into the hash key (docs only ever pair within a
    // language): the candidate equijoin keys on ONE long and no lang
    // column rides any shuffle. Cross-lang key equality needs a 64-bit
    // collision — the accepted 2^-64 class above.
    val sh = docShingles(s, dir)
      .select($"doc_id", xxhash64($"lang", $"sh").as("shh"))
    // ONE explicit repartition(shh) exchange feeds BOTH the df
    // aggregation and the join-back — each is co-partitioned on shh, so
    // neither adds its own exchange. The shuffle_hash hint keeps the join
    // sort-free; its build side per partition is the partition's DISTINCT
    // shingles — a hot boilerplate shingle is ONE build entry however
    // many docs carry it, and AQE's skew-join splitting applies to
    // shuffled-hash joins, so a hot key's probe stream can be split
    // across tasks. Measured (SCALING.md "r9 decision probes", d9 docs
    // build row) 2.31 s vs 3.3–3.7 s for the r8 agg+join shape (two
    // non-dedupable full exchanges of the shingle stream) and vs
    // 1.45–1.91 s for a window count — the window is ~25% faster HERE (no
    // hot shingles in the fixture) but buffers each shh group inside one
    // WindowExec task with no skew relief: on the boilerplate-heavy
    // corpora d9 exists for, that is the rank-window funnel this repo
    // bans, so the ~0.6 s local cost buys the shape that survives skew.
    val part = sh.repartition($"shh")
    val dfTab = part.groupBy($"shh").agg(count(lit(1)).as("dfc"))
    part.join(dfTab.hint("shuffle_hash"), "shh")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"dfc", $"shh"))).as("arr"))
      .withColumn("ns", size($"arr"))
      .withColumn("plen",
        ($"ns" - ceil($"ns".cast("double") * lit(D9Tau)) + 1).cast("int"))
      .withColumn("prefix", slice($"arr", lit(1), $"plen"))
      // PPJoin's short INDEX prefix (Xiao et al. 2008 §3.4 / Bayardo
      // §3.1): when the pair's SMALLER set is the indexed side, overlap
      // α ≥ ⌈2τ/(1+τ)·|y|⌉, so its first shared element sits within the
      // first |y| − ⌈2τ/(1+τ)·|y|⌉ + 1 positions — ~|y|/3 at τ=0.5 where
      // the symmetric Jaccard prefix is ~|y|/2. Exact, given the
      // size-order predicate in the indexed join arm.
      .withColumn("ilen",
        ($"ns" - ceil($"ns".cast("double") * lit(2 * D9Tau / (1 + D9Tau)))
          + 1).cast("int"))
      .withColumn("iprefix", slice($"arr", lit(1), $"ilen"))
  }
  /** Candidate pairs for d9: an asymmetric probe×index join on the 8-byte
    * hashed shingle keys the d9Docs arrays carry. The pair's LARGER set
    * (ties: larger id) probes with its full Jaccard prefix; the smaller
    * set is indexed by its short index prefix (~|y|/3 vs ~|y|/2 at τ=0.5
    * — see d9Docs.iprefix). Complete for J ≥ τ by the PPJoin index-prefix
    * theorem: the pair's first shared element in canonical order lies
    * inside BOTH prefixes. Each pair is matched from one side only, so no
    * direction double-count reaches the distinct. Two exact cuts run
    * before the distinct shuffle:
    *  - the LENGTH filter (the second AllPairs pruner): J ≥ τ forces
    *    τ·|x| ≤ |y| ≤ |x|/τ — a necessary condition, not a heuristic;
    *  - PPJoin's POSITIONAL filter (Xiao et al. 2008 §3.2): for a match on
    *    prefix positions (pa, pb) (0-based in the canonical sort), the
    *    overlap is bounded by min(na−pa, nb−pb) — everything before the
    *    match in either array is non-shared by construction of the FIRST
    *    shared element. Matches whose bound < α = ⌈τ·(na+nb)/(1+τ)⌉ are
    *    pruned.
    * Adopted from the r9 interleaved A/B over the naive any-shared-prefix
    * join (SCALING.md "r9 decision probes", d9 rows); PrefixFilterSpec
    * keeps that naive join as its reference.
    */
  private[llm] def d9Pairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val alpha = ceil(($"na" + $"nb").cast("double") * lit(D9Tau / (1 + D9Tau)))
    val probe = docs.select($"doc_id".as("da"), $"ns".as("na"),
        posexplode($"prefix").as(Seq("pa", "pe")))
      .select($"da", $"na", $"pa", $"pe.shh".as("shh"))
    val index = docs.select($"doc_id".as("db"), $"ns".as("nb"),
        posexplode($"iprefix").as(Seq("pb", "pe")))
      .select($"db", $"nb", $"pb", $"pe.shh".as("shh"))
    probe.join(index, Seq("shh"))
      .filter(($"nb" < $"na" || ($"nb" === $"na" && $"db" < $"da")) &&
        $"nb".cast("double") >= $"na".cast("double") * D9Tau &&
        least($"na" - $"pa", $"nb" - $"pb").cast("double") >= alpha)
      .select(least($"da", $"db").as("da"), greatest($"da", $"db").as("db"))
      .distinct()
  }

  def d9(s: SparkSession, dir: String): DataFrame =
    d9From(d9Docs(s, dir).localCheckpoint())

  /** Full d9 pipeline from a checkpointed d9Docs frame: [[d9Pairs]]
    * candidates, then exact Jaccard verification. */
  private[llm] def d9From(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pairs = d9Pairs(docs)
    // verification intersects the 64-bit shingle hashes the arrays
    // already carry (r9: hashed once in d9Docs — no per-row re-hash
    // here) — ~1/3 the shuffle bytes of strings and a primitive-array
    // intersect. A cross-doc xxhash64 collision could perturb one |∩|
    // with probability ~2^-64 per shingle pair (PPJoin-style systems
    // accept this; the oracle match at the gate SF is the empirical
    // seal). The hash arrays are SORTED once per doc so the per-PAIR
    // count is an allocation-free two-pointer merge
    // (SortedIntersectCount, the tc1 hot-path device) —
    // size(array_intersect(...)) hash-built and materialized the
    // intersection array per candidate pair just to take its length.
    val side = docs.select($"doc_id",
      sort_array($"arr.shh").as("shs"), $"ns")
    val interCnt = {
      import org.apache.spark.sql.GraftSqlBridge
      GraftSqlBridge.column(graft.functions.SortedIntersectCount(
        GraftSqlBridge.expression($"sa"),
        GraftSqlBridge.expression($"sb")))
    }
    pairs
      .join(side.select($"doc_id".as("da"), $"shs".as("sa"), $"ns".as("na")), "da")
      .join(side.select($"doc_id".as("db"), $"shs".as("sb"), $"ns".as("nb")), "db")
      .withColumn("inter", interCnt)
      .withColumn("jacc", $"inter".cast("double") /
        ($"na" + $"nb" - $"inter").cast("double"))
      .filter($"jacc" >= D9Tau)
      .select($"da", $"db", round($"jacc", 6).as("jacc"))
      .orderBy($"da", $"db")
  }
  /** Oracle = the NAIVE generator (any shared shingle) + the same exact
    * Jaccard — so the hash match proves the prefix filter lost nothing. */
  val d9Sql: String =
    s"""WITH dt AS (
       |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |pt AS (
       |  SELECT doc_id, lang, s.pos AS pos, s.tok AS tok
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(toks, (x, i) -> struct_pack(pos := i, tok := x))) AS s
       |        FROM dt) t),
       |sh AS (SELECT DISTINCT doc_id, lang, sh FROM (
       |         SELECT doc_id, lang,
       |           tok || '_' || lead(tok, 1) OVER w || '_' || lead(tok, 2) OVER w AS sh,
       |           lead(tok, 2) OVER w AS t2
       |         FROM pt WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) q
       |       WHERE t2 IS NOT NULL),
       |n AS (SELECT doc_id AS nid, COUNT(*) AS ns FROM sh GROUP BY 1),
       |c AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
       |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT da, db,
       |  round(CAST(c AS DOUBLE) / CAST(na.ns + nb.ns - c AS DOUBLE), 6) AS jacc
       |FROM c JOIN n na ON c.da = na.nid JOIN n nb ON c.db = nb.nid
       |WHERE CAST(c AS DOUBLE) / CAST(na.ns + nb.ns - c AS DOUBLE) >= $D9Tau
       |ORDER BY da, db""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("knn1_knn_graph", knn1, knn1Sql),
    Query("cs1_canonical_selection", cs1, cs1Sql, Some(cs1IterSql)),
    Query("sem1_semantic_dedup", sem1, sem1Sql),
    Query("d9_prefix_filter_join", d9, d9Sql),
    Query("d1_exact_dedup", d1, d1Sql),
    Query("d2_minhash_lsh", d2, d2Sql),
    Query("d3_simhash", d3, d3Sql),
    Query("d6_simhash_hamming", d6, d6Sql),
    Query("d6c_simhash_capped", d6c, d6cSql),
    Query("d6b_simhash128_scale", d6b, d6bSql),
    Query("c1_dedup_clusters", c1, c1Sql, Some(c1IterSql)),
    Query("c2_dedup_droplist", c2, c2Sql, Some(c2IterSql)),
    Query("m2_chunk_sample", m2, m2Sql),
    Query("d4_ngram_jaccard", d4, d4Sql),
    Query("d5_embedding_neardup", d5, d5Sql),
    Query("s1_ann_brute_topk", s1, s1Sql),
    Query("s2_ann_lsh_topk", s2, s2Sql),
    Query("s3_ann_ivf_topk", s3, s3Sql),
    Query("r1_ann_recall", r1, r1Sql),
    Query("r2_ivf_recall", r2, r2Sql),
    Query("s5_ann_ivf_multiprobe", s5, s5Sql),
    Query("qz1_int8_quant_ann", qz1, qz1Sql),
    Query("pq1_product_quant", pq1, pq1Sql),
    Query("ivfpq1_ivf_adc_topk", ivfpq1, ivfpq1Sql),
    Query("emb2_matryoshka_recall", emb2, emb2Sql),
    Query("ndcg1_lsh_ranking_quality", ndcg1, ndcg1Sql),
    Query("bp1_boilerplate_ngrams", bp1, bp1Sql),
    Query("t12_vocab_coverage", t12, t12Sql),
    Query("rp1_random_projection", rp1, rp1Sql),
    Query("t5_regex_tokens", t5, t5Sql),
    Query("hof1_array_stats", hof1, hof1Sql),
    Query("ev1_embedding_moments", ev1, ev1Sql),
    Query("ec1_embedding_gram", ec1, ec1Sql),
    Query("pca1_reconstruction_audit", pca1, pca1Sql),
    Query("t1_langid", t1, t1Sql),
    Query("t2_quality_score", t2, t2Sql),
    Query("t3_token_stats", t3, t3Sql),
    Query("t4_fingerprint", t4, t4Sql),
    Query("fh1_feature_hashing", fh1, fh1Sql),
    Query("cl1_text_clean", cl1, cl1Sql),
    Query("t6_bm25_score", t6, t6Sql),
    Query("rrf1_hybrid_fusion", rrf1, rrf1Sql),
    Query("spm1_doc_topic_scores", spm1, spm1Sql),
    Query("vp1_vocab_prune", vp1, vp1Sql),
    Query("pad1_batch_pad_audit", pad1, pad1Sql),
    Query("t7_repetition_filter", t7, t7Sql),
    Query("t8_unigram_logprob", t8, t8Sql),
    Query("t9_tfidf_topterms", t9, t9Sql),
    Query("t10_bigram_logprob", t10, t10Sql),
    Query("t11_pmi_collocations", t11, t11Sql),
    Query("s4_kmeans_update", s4, s4Sql),
    Query("hh1_heavy_hitters", hh1, hh1Sql),
    Query("d7_decontaminate", d7, d7Sql),
    Query("d8_incremental_dedup", d8, d8Sql),
    Query("ds1_dup_spans", ds1, ds1Sql),
    Query("sm2_stratified_sample", sm2, sm2Sql),
    Query("m1_binary_meta", m1, m1Sql),
  )
}
