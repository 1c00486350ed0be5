package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.Syntax._

/** §2.6 deduplication for training-data pipelines.
  *
  * Scale shapes (the part that matters at 100 TB):
  *  - exact dedup = hash-agg, ONE shuffle on the fingerprint;
  *  - token/n-gram Jaccard = shuffle join on (lang, log-size-bucket)
  *    blocking keys — never an n² cross join and never a corpus-side
  *    broadcast;
  *  - MinHash-LSH = the real scale path: candidates come from band-
  *    bucket shuffle joins, verification touches only candidate pairs;
  *  - SimHash = 32 agg bits per doc, candidates from band equality,
  *    verify by XOR popcount;
  *  - embedding dedup = IVF-cell candidates with angular triangle-
  *    inequality pruning (exact), verified by the codegen dot — never
  *    all-pairs.
  *
  * Every pair join here is a shuffle join on a composite blocking key;
  * AQE splits skewed buckets at runtime. Small corpora can opt in to
  * broadcasting the probe side via spark.graft.pairJoin.broadcast=true
  * (default off — a corpus-side broadcast cannot survive large scale).
  */
object Dedup extends QueryModule {

  /** Distinct tokens per doc (the inverted-index base). */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(split(col("text"), "\\s+"))).as("w"))

  /** Portable 32-bit non-negative token hash (md5 prefix) — the oracle
    * engine reproduces it as ('0x'||substr(md5(w),1,8))::BIGINT, so
    * hash-derived signatures stay verifiable end-to-end. */
  private def tokHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Probe sides default to plain shuffle joins; tiny corpora may opt
    * in to a broadcast with spark.graft.pairJoin.broadcast=true. */
  private def probeSide(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.pairJoin.broadcast")
        .contains("true")) broadcast(df)
    else df

  // ------------------------------------------------------ dedup_exact
  /** Content-hash dedup: one hash-agg; keeper = min doc_id per group. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(lower(col("text"))).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(spark, dir)).orderBy("keeper")

  val dedupExactSql: String =
    """SELECT md5(lower(text)) AS fingerprint, MIN(doc_id) AS keeper,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(lower(text)) ORDER BY keeper""".stripMargin

  // ------------------------------------------------ dedup_normalized
  /** Canonicalization-exact dedup: fingerprint AFTER text
    * normalization — lowercase, punctuation → space, whitespace runs
    * collapsed, trimmed — catching the trivial-reformat copies
    * (casing, spacing, punctuation drift) that byte-exact dedup
    * misses while staying ONE map-side-combining hash-agg shuffle;
    * the canonical form itself is a codegen scalar pass that never
    * leaves the map side. */
  def normalizedExact(docs: DataFrame): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "), "\\s+", " "))
    docs.groupBy(md5(canon).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
  }

  def dedupNormalized(spark: SparkSession, dir: String): DataFrame =
    normalizedExact(Tables.documents(spark, dir)).orderBy("keeper")

  val dedupNormalizedSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    md5(trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
      |  FROM documents)
      |SELECT fp AS fingerprint, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM c GROUP BY fp ORDER BY keeper""".stripMargin

  // ------------------------------------------------- dedup_template
  /** TEMPLATE dedup — cluster documents that are the same boilerplate
    * with different FILL-INS (log lines, generated pages, receipts):
    * [[normalizedExact]]'s canonicalization plus digit-run masking
    * (every number → '#'), so "error 404 at 10:31" and "error 500 at
    * 22:07" share a fingerprint. Reports each template family with
    * ≥ 2 members — the structure dedup_exact/dedup_normalized cannot
    * see because the instantiated values differ byte-wise. Same ONE
    * map-side-combining hash-agg shuffle; the mask is a codegen
    * regexp pass that never leaves the map side. */
  def templateDedup(docs: DataFrame): DataFrame = {
    val canon = trim(regexp_replace(regexp_replace(
      regexp_replace(lower(col("text")), "[0-9]+", "#"),
      "[^a-z#\\s]", " "), "\\s+", " "))
    docs.groupBy(md5(canon).as("template_fp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("exemplar"))
      .filter(col("n_docs") >= 2)
  }

  /** The driver key runs the template core over synthesized LOG LINES
    * (first token + per-doc ids/sizes interpolated) — the operator's
    * real input shape; the test corpus itself is digit-free word
    * salad with zero repeated structure, which would verify the
    * operator against an always-empty answer. */
  def dedupTemplate(spark: SparkSession, dir: String): DataFrame =
    templateDedup(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        concat(regexp_extract(col("text"), "^\\S+", 0),
          lit(" request "), col("doc_id").cast("string"),
          lit(" from "), col("source"),
          lit(" in "), col("n_chars").cast("string"), lit("ms"))
          .as("text")))
      .reportSort("exemplar")

  val dedupTemplateSql: String =
    """WITH l AS (
      |  SELECT doc_id, source,
      |    regexp_extract(text, '^\S+') || ' request ' ||
      |      CAST(doc_id AS VARCHAR) || ' from ' || source || ' in ' ||
      |      CAST(n_chars AS VARCHAR) || 'ms' AS text
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source,
      |    md5(trim(regexp_replace(regexp_replace(regexp_replace(
      |      lower(text), '[0-9]+', '#', 'g'),
      |      '[^a-z#\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
      |  FROM l)
      |SELECT fp AS template_fp, COUNT(*) AS n_docs,
      |  COUNT(DISTINCT source) AS n_sources, MIN(doc_id) AS exemplar
      |FROM c GROUP BY fp HAVING COUNT(*) >= 2
      |ORDER BY exemplar""".stripMargin

  // ----------------------------------------------- dedup_containment
  /** DIRECTIONAL excerpt containment: c(A→B) = |G(A)∩G(B)|/|G(A)| ≥
    * t over word-8-GRAM sets — doc A's sequences are (mostly) inside
    * doc B. The companion filter Jaccard can't provide: an excerpt
    * inside a much larger doc has low Jaccard but containment ~1.0.
    * Grams, not tokens, deliberately: token-set containment collapses
    * on a small shared vocabulary (every doc ⊆ every doc), while
    * 8-gram sets are sequence-sensitive and high-cardinality, so a hit
    * means REAL copied spans (same signal family as
    * [[spanFraction]], but per-pair and directional). t = 0.9 in
    * EXACT integer form (i·10 ≥ 9·n) — no float thresholds.
    *
    * Scale shape: candidates come from a postings self-join on the
    * 60-BIT portable gram hash — 8-gram document frequency is tiny
    * (sequences repeat only in true copies), so posting lists are
    * short and the join never sees hot keys; per-pair verification is
    * the codegen sorted-merge intersection over the two gram-hash
    * arrays. The oracle computes the full quadratic answer from raw
    * gram strings, so blocking-completeness bugs and hash collisions
    * alike would fail the gate. */
  def containment(docs: DataFrame): DataFrame = {
    // 60-bit portable hash (15 hex chars < 2^60): gram space is large
    // enough that the 32-bit tokHash would risk oracle-visible
    // collisions
    def gramHash(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val grams = docs
      .select(col("doc_id"),
        explode(call_function(graft.expr.VectorExprs.ngramsName,
          split(col("text"), "\\s+"), lit(8))).as("g"))
      .select(col("doc_id"), gramHash(col("g")).as("gh"))
      .distinct()
    val sets = grams.groupBy("doc_id")
      .agg(sort_array(collect_list(col("gh"))).as("hs"),
        count(lit(1)).as("n"))
    val candidates = grams.select(col("doc_id").as("d1"), col("gh"))
      .join(probeSide(grams.select(col("doc_id").as("d2"), col("gh"))), "gh")
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2")).distinct()
    candidates
      .join(sets.select(col("doc_id").as("d1"), col("hs").as("hs1"),
        col("n").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("hs").as("hs2")), "d2")
      .withColumn("i", call_function(
        graft.expr.VectorExprs.intersectName, col("hs1"), col("hs2")))
      .filter(col("i") * 10 >= col("n1") * 9)
      .select(col("d1").as("inner_doc"), col("d2").as("outer_doc"),
        expr("i * 1000 div n1").as("cont_pm"))
      .orderBy("inner_doc", "outer_doc")
  }

  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExprs.register(spark)
    containment(Tables.documents(spark, dir))
  }

  val dedupContainmentSql: String =
    """WITH docs AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, g
      |  FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(w) - 6),
      |        i -> array_to_string(w[i:i+7], ' '))) AS g
      |    FROM docs) t),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1 AS inner_doc, d2 AS outer_doc,
      |  i * 1000 // s1.n AS cont_pm
      |FROM inter JOIN sizes s1 ON s1.doc_id = d1
      |WHERE i * 10 >= s1.n * 9
      |ORDER BY inner_doc, outer_doc""".stripMargin

  // ---------------------------------------------- dedup_ngram_jaccard
  /** Token-set Jaccard near-dup pairs:
    * j = |A∩B| / (|A|+|B|-|A∩B|).
    *
    * Blocking key = (lang, log-size bucket). j >= t forces
    * min(n1,n2)/max(n1,n2) >= t, i.e. |ln n1 - ln n2| <= ln(1/t), so
    * with bucket = floor(ln n / ln(1/t)) qualifying pairs sit at most
    * one bucket apart: the probe side explodes to {b-1, b, b+1} and the
    * join is a plain shuffle on the composite key — each true pair
    * matches exactly once (the three probe buckets are distinct).
    * Token sets become SORTED HASH ARRAYS once and each surviving
    * candidate is verified by the codegen'd merge-intersection. This is
    * the 100 TB shape: no corpus-side broadcast, key cardinality
    * langs × size-buckets spreads the shuffle, and AQE splits any
    * skewed bucket. Token hashing (xxhash64) keeps the arrays
    * primitive; 64-bit collisions are negligible. */
  def ngramJaccard(docs: DataFrame, threshold: Double): DataFrame = {
    val sets = tokens(docs)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sort_array(collect_set(xxhash64(col("w")))).as("hs"))
      .withColumn("n", size(col("hs")))
    def bucket(n: Column): Column =
      if (threshold >= 1.0) n.cast("long")
      else floor(log(n.cast("double")) / math.log(1.0 / threshold))
    val a = sets.select(col("doc_id").as("d1"), col("lang"),
        col("hs").as("hs1"), col("n").as("n1"))
      .withColumn("bk", bucket(col("n1")))
    val b = sets.select(col("doc_id").as("d2"), col("lang").as("lang2"),
        col("hs").as("hs2"), col("n").as("n2"))
      .withColumn("bk2", explode(array(
        bucket(col("n2")) - 1, bucket(col("n2")), bucket(col("n2")) + 1)))
    // SortedJaccard computes the merge-intersection ONCE per pair (the
    // composed i/(n1+n2-i) form re-evaluates it per reference after
    // projection collapsing)
    a.join(probeSide(b),
        col("lang") === col("lang2") && col("bk") === col("bk2") &&
          col("d1") < col("d2") &&
          least(col("n1"), col("n2")).cast("double") >=
            greatest(col("n1"), col("n2")).cast("double") * threshold)
      .select(col("d1"), col("d2"),
        call_function(graft.expr.VectorExprs.jaccardName,
          col("hs1"), col("hs2")).as("j"))
      .filter(col("j") >= threshold)
  }

  // ------------------------------------------------- shared intermediates
  /** Session-scoped memo of expensive intermediates several driver
    * keys share (today: the MinHash-LSH pair set and the mutual kNN
    * edge join; the t=0.9 pair set and its labels graduated to
    * write-once bucketed layouts — see [[pairs09]]). The
    * driver's Verify/Bench mains run every key in ONE JVM+session, and
    * the composite audit keys (`dedup_cluster_stats`,
    * `dedup_keep_best`, `dedup_recall_audit`, `dedup_apply`,
    * `dedup_components_star`) each re-derive a pair set a primary key
    * already computed — memoizing the eagerly `localCheckpoint`ed
    * frame runs each intermediate once per (session, source dir)
    * instead of once per key. Reuse is deterministic: the checkpoint
    * materializes one concrete result all consumers read. The cached
    * frames strongly reference their session (DataFrame →
    * QueryExecution → SparkSession), so weak keying alone can never
    * collect an entry — eviction is explicit instead: an
    * application-end listener drops the session's entry when its
    * context stops (the checkpoint blocks die with the context
    * anyway). The inner key includes [[Tables.layoutTag]]'s content
    * fingerprint, so regenerated data under the same dir invalidates
    * the memo instead of silently serving stale pairs. */
  private val memo = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()
  private[graft] def memoized(spark: SparkSession, dir: String,
      what: String)(build: => DataFrame): DataFrame = {
    val m = memo.synchronized {
      var cur = memo.get(spark)
      if (cur == null) {
        cur = scala.collection.concurrent.TrieMap.empty
        memo.put(spark, cur)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
                : Unit = memo.synchronized { memo.remove(spark) }
          })
      }
      cur
    }
    m.getOrElseUpdate((s"${Tables.layoutTag(dir)}|$dir", what),
      build.cut)
  }

  /** Algorithm version folded into the pair/label layout tags: bump
    * whenever [[ngramJaccard]]'s candidate semantics, the t=0.9
    * threshold, the token hashing, or [[components]]' label contract
    * change — a cross-JVM artifact built by OLDER code must never
    * silently re-attach under newer semantics (the kNN-edge layout
    * lesson). */
  private val pairAlgoVersion = "a1"

  /** Exact blocked-Jaccard pairs over `documents` at t=0.9 — a
    * WRITE-ONCE BUCKETED LAYOUT (the winnowing/kNN-edge precedent),
    * no longer a session memo: seven driver keys re-derive this pair
    * set (`dedup_ngram`, `dedup_apply`, `dedup_components*`,
    * `dedup_cluster_*`, `dedup_keep_best`, `pipe_split_by_cluster`…),
    * and the session memo made every COLD JVM (Verify, then Bench,
    * then any probe) pay the full candidate-join again. The first
    * consumer per (source content, params, algo version) builds the
    * skinny (d1, d2, j) edge set once and publishes it bucketed on
    * d1; every later consumer in the session re-attaches by DDL and
    * pays a bucketed scan (session-scoped — see
    * [[graft.Tables.sessionLayoutRoot]]). At 100 TB the near-dup pair
    * pass is a capital cost per corpus snapshot, not a per-query
    * cost. */
  def pairs09(spark: SparkSession, dir: String): DataFrame = {
    val tag = s"${Tables.layoutTag(dir)}_t09_$pairAlgoVersion"
    Tables.attachBucketed(spark, tag, s"dedup_pairs09_$tag",
        "d1 BIGINT, d2 BIGINT, j DOUBLE", "d1", 8) {
      graft.expr.VectorExprs.register(spark)
      ngramJaccard(Tables.documents(spark, dir), 0.9)
    }
  }

  /** Pointer-jumping component labels over [[pairs09]] — same
    * write-once bucketed layout treatment (the label fixpoint is an
    * iterative job worth exactly one run per corpus snapshot); keyed
    * by doc_id so cluster-keyed consumers ride the buckets. */
  def labels09(spark: SparkSession, dir: String): DataFrame = {
    val tag = s"${Tables.layoutTag(dir)}_t09_$pairAlgoVersion"
    Tables.attachBucketed(spark, tag, s"dedup_labels09_$tag",
        "doc_id BIGINT, lbl BIGINT", "doc_id", 8) {
      components(Tables.documents(spark, dir), pairs09(spark, dir))
    }
  }

  /** Memoized MinHash-LSH pairs over `documents` at the defaults. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "minhash") {
      graft.expr.VectorExprs.register(spark)
      minhashLsh(Tables.documents(spark, dir))
    }

  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    pairs09(spark, dir).orderBy("d1", "d2")

  val dedupNgramSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS w
      |  FROM documents),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM tok a JOIN tok b
      |    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2, CAST(i AS DOUBLE)/CAST(s1.n + s2.n - i AS DOUBLE) AS j
      |FROM inter JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |WHERE CAST(i AS DOUBLE)/CAST(s1.n + s2.n - i AS DOUBLE) >= 0.9
      |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------ dedup_minhash_lsh
  /** MinHash signatures banded into LSH buckets; candidate pairs from
    * bucket equality on a SHUFFLE join over (band, sig), then verified
    * with true Jaccard — only candidates pay the verify cost, and AQE
    * splits any skewed bucket (self-similar corpora collapse many docs
    * into one signature).
    *
    * Hashing is fully PORTABLE where it must be: token hash =
    * md5-prefix (tokHash), permutation i =
    * ((h*(2i+1)) & 0xFFFFFFFF) XOR (h >> (i mod 16)) (overflow-free in
    * BIGINT SQL) — so the oracle engine recomputes identical minima
    * and the whole operator is hash-verified, not rows-only (the band
    * COMBINE is a Spark-internal equality key; see MinHashBands). All
    * permutation minima and band signatures come from ONE codegen pass
    * (graft.expr.MinHashBands) over the sorted token-hash array that
    * also serves the exact verify — no second tokenization. */
  def minhashLsh(docs: DataFrame, numHashes: Int = 32, bands: Int = 4,
      threshold: Double = 0.9): DataFrame = {
    // bands=4 × rows=8: P(candidate | j=0.9) ≈ 0.90, while j≈0.7 false
    // candidates drop to ~0.2 — on self-similar corpora the verify-join
    // width, not recall, is the binding constraint
    val sets = tokens(docs).groupBy("doc_id")
      .agg(sort_array(collect_set(tokHash(col("w")))).as("hs"))
      .withColumn("n", size(col("hs")))
    // ONE codegen pass (MinHashBands) computes all permutation minima
    // AND the compact 8-byte band signatures — the signatures are only
    // equality keys between Spark rows (they never cross the oracle
    // boundary; only verified pairs do, and the exact-Jaccard verify
    // squashes any astronomically-unlikely 64-bit collision
    // candidate, so the oracle's string-signature candidates
    // coincide). Emitting bands from one expression matters twice:
    // projection collapsing would inline a separate signature
    // expression into every element_at consumer (measured: the
    // O(tokens·k) pass re-ran k times per row), and compact longs keep
    // the self-join rows skinny enough for AQE's broadcast threshold
    // at bench SF (fat build sides forced a skewed sort-merge join —
    // giant dup buckets ground one task for ~30 s).
    //
    // FIRST-MATCHING-BAND emission over the skinny band join: bucket
    // rows carry only (doc_id, n, bands longs, band, sig) — never the
    // token arrays — and a pair is emitted only from the first band
    // where the signatures agree (the join requires every earlier band
    // to DISAGREE). On a self-similar corpus a true pair collides in
    // every band, so this yields exactly-once candidates with no
    // distinct pass. Verification then joins the candidate ids back to
    // the token sets (AQE broadcast when small, doc_id shuffle at
    // scale) and runs the merge-intersection ONCE per pair.
    val buckets = sets
      .select(col("doc_id"), col("n"),
        call_function(graft.expr.VectorExprs.minhashName,
          col("hs"), lit(numHashes), lit(bands)).as("bsigs"))
      .select(col("doc_id"), col("n"), col("bsigs"),
        posexplode(col("bsigs")).as(Seq("band", "sig")))
    val x = buckets.select(col("doc_id").as("d1"), col("n").as("n1"),
      col("bsigs").as("bsigs1"), col("band"), col("sig"))
    val y = buckets.select(col("doc_id").as("d2"), col("n").as("n2"),
      col("bsigs").as("bsigs2"), col("band").as("band2"), col("sig").as("sig2"))
    // foldLeft (not reduce): bands=1 yields an empty prior-band list,
    // where the condition is vacuously true
    val firstBand = (0 until bands - 1).map(bp =>
      col("band") <= bp ||
        element_at(col("bsigs1"), bp + 1) =!= element_at(col("bsigs2"), bp + 1))
      .foldLeft(lit(true))(_ && _)
    val cand = x.join(probeSide(y),
      col("band") === col("band2") && col("sig") === col("sig2") &&
        col("d1") < col("d2") &&
        // necessary condition: j >= t implies min(n)/max(n) >= t
        least(col("n1"), col("n2")).cast("double") >=
          greatest(col("n1"), col("n2")).cast("double") * threshold &&
        firstBand)
      .select(col("d1"), col("d2"))
    val s1 = sets.select(col("doc_id").as("dd1"), col("hs").as("hs1"))
    val s2 = sets.select(col("doc_id").as("dd2"), col("hs").as("hs2"))
    cand.join(s1, col("d1") === col("dd1"))
      .join(s2, col("d2") === col("dd2"))
      .select(col("d1"), col("d2"),
        call_function(graft.expr.VectorExprs.jaccardName,
          col("hs1"), col("hs2")).as("j"))
      .filter(col("j") >= threshold)
  }

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy("d1", "d2")

  /** Oracle mirror of minhashLsh at the default (32 hashes, 4 bands,
    * t=0.9): identical portable hashing, banding, candidate filter and
    * exact verify. */
  val dedupMinhashSql: String =
    """WITH tok AS (
      |  SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS h
      |  FROM (SELECT doc_id,
      |          unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS w
      |        FROM documents)),
      |ths AS (SELECT DISTINCT doc_id, h FROM tok),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ths GROUP BY doc_id),
      |perms AS (
      |  SELECT doc_id, i,
      |    MIN(xor((h * (2*i+1)) & 4294967295, h >> (i % 16))) AS mh
      |  FROM ths CROSS JOIN range(32) t(i)
      |  GROUP BY doc_id, i),
      |sigs AS (
      |  SELECT doc_id, CAST(i // 8 AS INTEGER) AS band,
      |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
      |  FROM perms GROUP BY doc_id, i // 8),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM sigs x JOIN sigs y
      |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
      |  JOIN sizes s1 ON s1.doc_id = x.doc_id
      |  JOIN sizes s2 ON s2.doc_id = y.doc_id
      |  WHERE CAST(LEAST(s1.n, s2.n) AS DOUBLE) >=
      |        CAST(GREATEST(s1.n, s2.n) AS DOUBLE) * 0.9),
      |inter AS (
      |  SELECT c.d1, c.d2, COUNT(*) AS i
      |  FROM cand c
      |  JOIN ths a ON a.doc_id = c.d1
      |  JOIN ths b ON b.doc_id = c.d2 AND a.h = b.h
      |  GROUP BY c.d1, c.d2)
      |SELECT d1, d2,
      |  CAST(i AS DOUBLE)/CAST(s1.n + s2.n - i AS DOUBLE) AS j
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = d1
      |JOIN sizes s2 ON s2.doc_id = d2
      |WHERE CAST(i AS DOUBLE)/CAST(s1.n + s2.n - i AS DOUBLE) >= 0.9
      |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------- dedup_simhash
  /** 32-bit SimHash per doc (majority vote per bit over PORTABLE token
    * hashes); candidates share the top 16-bit band, verified by XOR
    * popcount <= maxHam. With the md5-prefix hash the oracle engine
    * recomputes identical signatures, so the operator is hash-verified
    * end-to-end (was rows-only under xxhash64). */
  def simhash(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    val tok = tokens(docs).withColumn("h", tokHash(col("w")))
    val bitAggs = (0 until 32).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val votes = tok.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val sig = (0 until 32).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
    val sigs = votes.select(col("doc_id"), sig.as("sh"))
      .withColumn("hi", shiftright(col("sh"), 16))
    val pairs = sigs.as("x").join(sigs.as("y"),
        col("x.hi") === col("y.hi") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
    pairs.filter(col("hamming") <= maxHamming)
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhash(Tables.documents(spark, dir)).orderBy("d1", "d2")

  /** Oracle mirror of simhash at the default maxHamming=6; the 32
    * bit-vote columns and the signature sum are generated to match the
    * Spark plan term for term. */
  val dedupSimhashSql: String = {
    val bitVotes = (0 until 32).map(i =>
      s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n    ")
    val sigSum = (0 until 32).map(i =>
      s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS w
       |        FROM documents)),
       |votes AS (
       |  SELECT doc_id,
       |    $bitVotes
       |  FROM tok GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($sigSum AS BIGINT) AS sh FROM votes)
       |SELECT d1, d2, hamming FROM (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2,
       |    CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
       |  FROM sigs x JOIN sigs y
       |    ON (x.sh >> 16) = (y.sh >> 16) AND x.doc_id < y.doc_id)
       |WHERE hamming <= 6 ORDER BY d1, d2""".stripMargin
  }

  // -------------------------------------------------- dedup_embedding
  /** Dot product in double with a strict left-to-right fold (the fold
    * order is part of the oracle contract — identical on both engines). */
  def dot(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Codegen'd dot product (graft.expr.DotProduct) — same accumulation
    * order as [[dot]], ~10× faster on pair joins because the HOF
    * formulation is CodegenFallback. Callers must have run
    * `VectorExprs.register(spark)` (or the GraftExtensions config). */
  def fastDot(x: Column, y: Column): Column =
    call_function(graft.expr.VectorExprs.dotName, x, y)

  /** Cosine similarity of two raw embedding arrays. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** L2-normalize embeddings ONCE (codegen graft_normalize, O(n)), so
    * every pair comparison is a single dot product instead of three —
    * the difference between O(n·d) and O(n²·d) extra work when
    * pairing. */
  def normalized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      call_function(graft.expr.VectorExprs.normName, col("embedding")).as("e"))

  /** Embedding-cosine near-dup pairs via IVF-style cells with angular
    * triangle-inequality pruning — candidate-based, never all-pairs:
    *  1. normalize once (codegen graft_normalize);
    *  2. deterministic cell seeds = the min-vec_id member per label;
    *  3. assign each vector to its best cell (max codegen dot);
    *  4. per-cell angular radius r_c = max θ(member, seed_c);
    *  5. cell pair (c1 <= c2) produces candidates only when
    *     θ(seed_c1, seed_c2) <= θ_t + r_c1 + r_c2 + ε — by the
    *     triangle inequality on the sphere no qualifying pair can span
    *     a pruned cell pair, so the result is EXACTLY the all-pairs
    *     answer (ε only admits extra candidates);
    *  6. survivors verified with the codegen dot — the same doubles
    *     the oracle computes on normalized DOUBLE[].
    * The pair join shuffles on cell ids; the only broadcast is the K²
    * cell-pair table. At larger corpora K grows (~√n cells) and the
    * per-cell volume stays bounded — the 100 TB shape, with no
    * corpus-side broadcast anywhere. Only ids cross the oracle
    * boundary (never float scores — SURVEY §5). */
  def embeddingPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // Degenerate vectors (zero norm, NaN/Inf components) are excluded
    // UP FRONT from both join sides: cosine is undefined for them, and
    // both engines order NaN above every number, so a NaN dot would
    // slip PAST a plain `>= threshold` verify filter while never
    // entering a cell radius — the exactness argument below assumes
    // every participating vector is unit-norm. The oracle applies the
    // same exclusion (isfinite + > 0 on the squared norm).
    // graft_dot reads DOUBLE elements — cast the raw float vector first
    // (the oracle's CAST(embedding AS DOUBLE[]) mirror)
    val dbl = col("embedding").cast("array<double>")
    val nrm2 = fastDot(dbl, dbl)
    val n = emb
      .filter(nrm2 > lit(0.0) && nrm2 < lit(Double.PositiveInfinity))
      .select(col("vec_id"), col("label"),
        call_function(graft.expr.VectorExprs.normName, col("embedding")).as("e"))
    val seeds = n.withColumn("_r",
        row_number().over(Window.partitionBy("label").orderBy("vec_id")))
      .filter(col("_r") === 1)
      .select(col("label").as("cell"), col("e").as("ce"))
    val assigned = n.crossJoin(broadcast(seeds))
      .select(col("vec_id"), col("e"), col("cell"),
        fastDot(col("e"), col("ce")).as("_d"))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("_d"), col("cell"))))
      .filter(col("_rk") === 1)
      .select(col("vec_id"), col("e"), col("cell"), col("_d"))
    def clamp(c: Column): Column = least(lit(1.0), greatest(lit(-1.0), c))
    // every participating vector is finite unit-norm (filtered above),
    // so _d is a finite cosine and every member enters its cell radius
    val radii = assigned
      .groupBy("cell").agg(max(acos(clamp(col("_d")))).as("r"))
    val thetaT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val p1 = seeds.join(radii, Seq("cell"))
      .select(col("cell").as("c1"), col("ce").as("ce1"), col("r").as("r1"))
    val p2 = seeds.join(radii, Seq("cell"))
      .select(col("cell").as("c2"), col("ce").as("ce2"), col("r").as("r2"))
    val feasible = p1.join(broadcast(p2),
        col("c1") <= col("c2") &&
          acos(clamp(fastDot(col("ce1"), col("ce2")))) <=
            lit(thetaT) + col("r1") + col("r2") + lit(1e-6))
      .select("c1", "c2")
    val a = assigned.select(col("vec_id").as("v1"), col("e").as("e1"),
      col("cell").as("ca"))
    val b = assigned.select(col("vec_id").as("v2"), col("e").as("e2"),
      col("cell").as("cb"))
    a.join(broadcast(feasible), col("ca") === col("c1"))
      .join(b, col("cb") === col("c2") &&
        (col("ca") < col("cb") || col("v1") < col("v2")))
      .withColumn("cos", fastDot(col("e1"), col("e2")))
      .filter(col("cos") >= threshold)
      .select(least(col("v1"), col("v2")).as("id1"),
        greatest(col("v1"), col("v2")).as("id2"), col("cos"))
  }

  // --------------------------------------------------- dedup_semdedup
  /** SemDeDup (Abbas et al. 2023) — CLUSTER-SCOPED semantic dedup:
    * embeddings are first partitioned into cells (the label cells
    * here; k-means cells in production, with k ∝ n so the cell size —
    * and therefore the per-cell pair count — stays CONSTANT as the
    * corpus grows), pairs are formed only WITHIN a cell, and of any
    * pair closer than τ the lower-id member survives (the paper keeps
    * one representative per semantic-duplicate group; keep-first is
    * its deterministic form). Distances are exact integer squared
    * euclidean on milli-quantized coordinates (the [[graft.sim]]
    * convention — no float threshold crossings near the cut), τ =
    * 1.4·10⁶ milli². Report: per cell n, dropped count, drop
    * per-mille. Never all-pairs: the join key is the cell. */
  def dedupSemdedup(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExprs.register(spark)
    val tau = 1400000L
    // per-pair cost is ONE codegen dot: d² = Σx² + Σy² − 2Σxy, with
    // the milli coords carried as doubles — integer values ≤ 10³ give
    // products ≤ 10⁶ and 64-dim sums ≤ 6.4·10⁷, far inside the 2⁵³
    // exact-integer range, so the double dot is bit-exact integer math
    // (the interpreted zip_with/aggregate lambda form cost 4.3 s at
    // sf0.1; this is the codegen path)
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(cast(embedding as array<double>), " +
          "v -> cast(floor(v * 1000) as bigint))").as("m"))
      .select(col("vec_id"), col("label"),
        expr("cast(m as array<double>)").as("md"),
        expr("aggregate(m, 0L, (acc, v) -> acc + v * v)").as("s2"))
      .cut // two consumers: both pair sides
    val d2 = expr(
      "a.s2 + b.s2 - 2L * cast(graft_dot(a.md, b.md) as long)")
    val dropped = x.as("a").join(x.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(d2 <= tau)
      .select(col("a.label").as("label"), col("b.vec_id").as("vid"))
      .distinct()
      .groupBy("label").agg(count(lit(1)).as("n_dropped"))
    x.groupBy("label").agg(count(lit(1)).as("n"))
      .join(dropped, Seq("label"), "left")
      .select(col("label"), col("n"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        expr("coalesce(n_dropped, 0L) * 1000 div n").as("drop_pm"))
      .reportSort("label")
  }

  val dedupSemdedupSql: String =
    """WITH x AS (
      |  SELECT vec_id, label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      v -> CAST(FLOOR(v * 1000) AS BIGINT)) AS m
      |  FROM embeddings),
      |p AS (
      |  SELECT a.label, b.vec_id AS vid
      |  FROM x a JOIN x b
      |    ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.m, b.m),
      |      t -> (t[1] - t[2]) * (t[1] - t[2]))) <= 1400000),
      |d AS (SELECT label, COUNT(DISTINCT vid) AS n_dropped
      |      FROM p GROUP BY label),
      |n AS (SELECT label, COUNT(*) AS n FROM x GROUP BY label)
      |SELECT n.label, n.n,
      |  CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
      |  CAST(COALESCE(d.n_dropped, 0) * 1000 // n.n AS BIGINT)
      |    AS drop_pm
      |FROM n LEFT JOIN d ON n.label = d.label
      |ORDER BY n.label""".stripMargin

  /** Session memo of the t=0.40 verified embedding pair set — the
    * candidate pass is shared by `dedup_embedding` and
    * `dedup_emb_sweep` (the sweep's whole point is re-reading the
    * loosest threshold's pairs). */
  private def embPairs040(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "embPairs040") {
      graft.expr.VectorExprs.register(spark)
      embeddingPairs(Tables.embeddings(spark, dir), 0.40)
    }

  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    // ids only cross the oracle boundary; the cosine stays engine-side
    embPairs040(spark, dir)
      .select("id1", "id2").orderBy("id1", "id2")

  // --------------------------------------------------- dedup_emb_sweep
  /** Threshold-tuning sweep for embedding dedup — the curve a
    * threshold decision is made from (how many pairs does each cut
    * admit?), computed from ONE candidate generation at the loosest
    * threshold: the sweep itself is a conditional count over the
    * verified pair set, so tightening the answer costs nothing beyond
    * the 0.40 run the pipeline already does. Counts (exact integers)
    * are all that cross the oracle boundary; the oracle recomputes
    * every threshold's count from the full normalized pair join. */
  def dedupEmbSweep(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExprs.register(spark)
    import spark.implicits._
    val ts = Seq(400L, 500L, 600L, 700L, 800L)
    val pairs = embPairs040(spark, dir)
    val counts = pairs
      .select(explode(typedLit(ts)).as("threshold_pm"), col("cos"))
      .filter(col("cos") >=
        col("threshold_pm").cast("double") / lit(1000.0))
      .groupBy("threshold_pm").agg(count(lit(1)).as("_n"))
    ts.toDF("threshold_pm")
      .join(counts, Seq("threshold_pm"), "left")
      .select(col("threshold_pm"), coalesce(col("_n"), lit(0L)).as("n_pairs"))
      .reportSort("threshold_pm")
  }

  val dedupEmbSweepSql: String =
    """WITH n AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                     CAST(embedding AS DOUBLE[])))) AS e
      |  FROM embeddings
      |  WHERE isfinite(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                  CAST(embedding AS DOUBLE[])))
      |    AND list_dot_product(CAST(embedding AS DOUBLE[]),
      |                         CAST(embedding AS DOUBLE[])) > 0),
      |p AS (
      |  SELECT list_dot_product(a.e, b.e) AS cos
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.e, b.e) >= 0.40),
      |t AS (SELECT unnest([400, 500, 600, 700, 800]) AS threshold_pm)
      |SELECT CAST(t.threshold_pm AS BIGINT) AS threshold_pm,
      |  CAST(COUNT(p.cos) AS BIGINT) AS n_pairs
      |FROM t LEFT JOIN p ON p.cos >= t.threshold_pm / 1000.0
      |GROUP BY 1 ORDER BY threshold_pm""".stripMargin

  val dedupEmbeddingSql: String =
    """WITH n AS (
      |  SELECT vec_id,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                     CAST(embedding AS DOUBLE[])))) AS e
      |  FROM embeddings
      |  WHERE isfinite(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                  CAST(embedding AS DOUBLE[])))
      |    AND list_dot_product(CAST(embedding AS DOUBLE[]),
      |                         CAST(embedding AS DOUBLE[])) > 0)
      |SELECT a.vec_id AS id1, b.vec_id AS id2
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.e, b.e) >= 0.40
      |ORDER BY id1, id2""".stripMargin

  // ------------------------------------------------------ dedup_apply
  /** Apply near-dup pairs to the corpus: greedy keeper selection — in
    * every pair (d1 < d2) the smaller id survives, so any doc that
    * appears as a d2 is dropped. (True connected-components keeps one
    * doc per cluster via iterative min-label propagation; greedy is the
    * standard single-pass choice and never drops both sides.) */
  def applyPairs(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("d2").as("_drop")).distinct(),
      col("doc_id") === col("_drop"), "left_anti")

  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    applyPairs(docs, pairs09(spark, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"))
      .reportSort("lang")
  }

  val dedupApplySql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS w
      |  FROM documents),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM tok a JOIN tok b
      |    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |  WHERE CAST(i AS DOUBLE)/CAST(s1.n + s2.n - i AS DOUBLE) >= 0.9)
      |SELECT lang, COUNT(*) AS n_kept FROM documents
      |WHERE doc_id NOT IN (SELECT DISTINCT d2 FROM pairs)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------ dedup_components
  /** True connected-components clustering over near-dup pairs —
    * the complement to greedy [[applyPairs]]: every doc gets the MIN
    * doc_id of its whole transitive component, so one keeper survives
    * per cluster even across chains (a~b, b~c ⇒ one keeper for
    * {a,b,c}).
    *
    * Implementation: iterative min-label propagation. Each round every
    * node takes the min of its own and its neighbors' labels (one
    * shuffle join + one hash-agg); rounds = component diameter (near-
    * dup clusters are dense, diameter 1–3), bounded by maxIter — a
    * round that still changes labels at the cap throws rather than
    * return unconverged labels.
    * `localCheckpoint` cuts the growing lineage each round — the
    * standard Spark iterative-graph shape (at 100 TB you would use
    * large-star/small-star to bound skew on giant components; the
    * per-round plan here is the same join+agg). */
  def components(docs: DataFrame, pairs: DataFrame, maxIter: Int = 30,
      checkpoint: DataFrame => DataFrame = graft.Tables.cut(_, eager = false))
      : DataFrame = {
    // LAZY local checkpoints (eager = false): every round is followed
    // by the label-sum convergence job anyway, so the sum materializes
    // the round's checkpoint in the SAME job instead of paying a
    // separate collect per round — one fewer driver round-trip per
    // iteration, same cached result for every later consumer.
    // `checkpoint` cuts the per-round lineage. The default
    // localCheckpoint is executor-storage-backed — right for a single
    // JVM, lost on executor death. On a real cluster pass
    // `df => df.checkpoint()` (with sc.setCheckpointDir on reliable
    // storage) so a mid-iteration executor loss replays one round, not
    // the whole history.
    // Propagation runs over ONLY the edge-incident vertices — an
    // isolated doc can never change label, and near-dup graphs are
    // sparse, so the iterated frame is a small fraction of the corpus.
    // Edges are checkpointed PRE-PARTITIONED on the probe key (d2) and
    // every label frame comes out of a doc_id hash-agg, so the
    // per-round join re-uses both partitionings and the only exchange
    // per round is the union+min agg.
    val edges = checkpoint(pairs.select(col("d1"), col("d2"))
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .repartition(col("d2")))
    var labels = checkpoint(edges.select(col("d1").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("lbl")))
    // labels only ever decrease, so the fixpoint is reached exactly
    // when the label sum stops falling — a one-number job per round,
    // cheaper than a join-based changed-count
    def lblSum(df: DataFrame): BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
        .map(BigDecimal(_)).getOrElse(BigDecimal(0))
    var prevSum = BigDecimal(Long.MaxValue) * BigDecimal(Long.MaxValue)
    var curSum = lblSum(labels)
    var iter = 0
    while (curSum < prevSum) {
      if (iter == maxIter) throw new IllegalStateException(
        s"components: labels still changing after $iter rounds " +
          s"(maxIter = $maxIter); refusing to return unconverged labels")
      // neighbor-min: l'(v) = min(l(v), min over neighbors' labels)
      val neighbor = edges.join(labels, edges("d2") === labels("doc_id"))
        .select(edges("d1").as("doc_id"), col("lbl"))
      val propagated = labels.union(neighbor)
        .groupBy("doc_id").agg(min("lbl").as("lbl"))
      // pointer jump: l''(v) = l'(l'(v)). Every label IS an incident
      // doc_id (it started as one and min() preserves membership), so
      // the self-join resolves every row. Doubling the indirection each
      // round turns convergence from O(diameter) rounds into
      // O(log diameter) — the sf corpus has diameter-7 chains (8 linear
      // rounds measured), and at 100 TB long chains are the norm.
      val l = propagated.select(col("doc_id").as("_v"), col("lbl").as("_l"))
      labels = checkpoint(l.join(propagated.withColumnRenamed("lbl", "_l2"),
          l("_l") === propagated("doc_id"))
        .select(col("_v").as("doc_id"), col("_l2").as("lbl")))
      prevSum = curSum
      curSum = lblSum(labels)
      iter += 1
    }
    // isolated docs label themselves; AQE broadcasts the (small)
    // converged label set against the full corpus
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("lbl", "_lbl"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_lbl"), col("doc_id")).as("lbl"))
  }

  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    labels09(spark, dir)
      .groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("component")
  }

  // ------------------------------------------- dedup_components_star
  /** Large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14) — the alternative
    * to [[components]]' pointer jumping for graphs with giant
    * components. Pointer jumping funnels a whole component's rows
    * through its min-label key every round; here no key's reduce input
    * ever exceeds its degree.
    *
    * State: the canonical (u > v) edge set C — each undirected edge
    * once, distinct, lazily cut every round. One round is four jobs:
    *  1. Neighbourhood frame. The symmetric view C ∪ flip(C) (flipped
    *     rows have u < v, so they never collide with C) under ONE
    *     window partitioned by u gives every row m(u) = least(min Γ(u),
    *     u) and max Γ(u). The frame is cut lazily; its exchange is the
    *     round's first job.
    *  2. Convergence test, read off the cut frame in the job that
    *     materializes it, at the top of the round before any
    *     contraction work: C is a forest of min-rooted stars exactly
    *     when every vertex with a smaller neighbour has exactly one
    *     neighbour (min Γ = max Γ). Then for every edge u > v, v is
    *     u's only neighbour, and v has no smaller neighbour (it would
    *     be v's only one, yet u is another), so every edge joins a leaf
    *     to a root smaller than all its leaves: the component minimum.
    *     The converse is immediate. "No vertex has both a smaller and a
    *     larger neighbour" alone is NOT enough: {5–1, 5–3} passes it. An
    *     empty or already-star input therefore costs no contraction,
    *     and no confirmation round follows the last one that changed C.
    *  3. Large-star from the same frame: rows with v > u emit
    *     (v, m(u)), canonical already (v > u ≥ m(u)); repartition by u
    *     and `distinct` in that one exchange.
    *  4. Small-star on that output: m = min(v) over a window
    *     partitioned by u (the repartition serves it) emits (v, m) and
    *     (u, m); `distinct` is the round's last exchange, then the cut.
    * Both steps preserve connectivity and together strictly decrease a
    * potential until the test passes: O(log² n) rounds worst case; the
    * near-dup graphs take 2 contraction rounds at sf0.01 and 4 at
    * sf0.1, so a call costs 1 + 4·rounds + 2 jobs. A round cap of
    * `maxIter` contraction rounds throws rather than return
    * unconverged labels.
    *
    * Skew trade-off: both windows keep "no key's reduce input exceeds
    * its degree", and window buffers spill to disk, but AQE skew-join
    * splitting, which a join-based round can use, does not apply to a
    * window: a hub's whole neighbourhood runs as ONE task. That task
    * is bounded by the hub's degree, never by its component's size.
    *
    * `checkpoint` cuts the frame and the state (default: lazy
    * [[graft.Tables.cut]]); pass a reliable checkpoint off a single
    * JVM (see [[components]]). */
  def componentsStar(docs: DataFrame, pairs: DataFrame, maxIter: Int = 40,
      checkpoint: DataFrame => DataFrame = graft.Tables.cut(_, eager = false))
      : DataFrame = {
    val byU = Window.partitionBy("u")
    var cEdges = checkpoint(pairs
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    var iter = 0
    var converged = false
    while (!converged) {
      val frame = checkpoint(
        cEdges.union(cEdges.select(col("v").as("u"), col("u").as("v")))
          .select(col("u"), col("v"),
            least(min(col("v")).over(byU), col("u")).as("m"),
            max(col("v")).over(byU).as("mx")))
      converged =
        !anyRow(frame.where(col("m") < col("u") && col("mx") =!= col("m")))
      if (!converged) {
        if (iter == maxIter) throw new IllegalStateException(
          s"componentsStar: edge set is still no star forest after " +
            s"$iter contraction rounds (maxIter = $maxIter); refusing " +
            "to return unconverged labels")
        val large = frame.where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .repartition(col("u")).distinct()
          .withColumn("m", min(col("v")).over(byU))
        cEdges = checkpoint(large
          .select(explode(array(
            struct(col("v").as("u"), col("m").as("v")),
            struct(col("u"), col("m").as("v")))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
          .where(col("u") =!= col("v")).distinct())
        iter += 1
      }
    }
    // every non-root points straight at its component min
    val lbls = cEdges.select(col("u").as("doc_id"), col("v").as("lbl"))
    docs.select(col("doc_id"))
      .join(lbls.withColumnRenamed("lbl", "_lbl"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_lbl"), col("doc_id")).as("lbl"))
  }

  /** True when `df` has a row, in ONE job over every partition — so a
    * lazy cut under `df` is fully materialized by that same job
    * (`isEmpty`'s incremental `take` would leave partitions for a
    * second checkpoint job). */
  private def anyRow(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd,
      (rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        rows.hasNext).contains(true)

  /** Driver key: the SAME component census as `dedup_components`, but
    * computed by star contraction — the oracle (recursive-CTE
    * transitive closure) proves the two algorithms agree exactly. */
  def dedupComponentsStar(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    componentsStar(docs, pairs09(spark, dir))
      .groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("component")
  }

  /** Oracle CTE chain: transitive closure by recursive CTE — every
    * node collects the initial labels of everything reachable over the
    * symmetric edge set; MIN per node = the component's min doc_id.
    * Ends at the per-node `labels(id, lbl)` relation so derived
    * oracles ([[dedupComponentsSql]], [[dedupKeepBestSql]]) can share
    * the closure. */
  /** The blocked-Jaccard near-dup `pairs(d1, d2)` CTE chain (t = 0.9,
    * same semantics as [[ngramJaccard]]) — the shared front half of
    * every pair-derived oracle. `RECURSIVE` is harmless when no CTE in
    * the list recurses, so non-recursive reusers need no rewrite. */
  private[graft] val nearDupPairsCte: String =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, lang,
      |    unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS w
      |  FROM documents),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM tok a JOIN tok b
      |    ON a.w = b.w AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |  WHERE CAST(i AS DOUBLE)/CAST(s1.n + s2.n - i AS DOUBLE) >= 0.9)""".stripMargin

  private[graft] val componentLabelsCte: String =
    s"""$nearDupPairsCte,
       |edges AS (
       |  SELECT d1, d2 FROM pairs UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.d1, r.lbl FROM edges e JOIN reach r ON r.id = e.d2),
       |labels AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id)""".stripMargin

  val dedupComponentsSql: String =
    s"""$componentLabelsCte
       |SELECT lbl AS component, COUNT(*) AS n_docs
       |FROM labels GROUP BY lbl ORDER BY component""".stripMargin

  // ----------------------------------------------- dedup_span_fraction
  /** Exact-substring duplication signal: a document's word 8-grams are
    * its spans, and a span is DUPLICATED when any OTHER document
    * contains the same 8-gram (the span-level view of training-data
    * dedup — near-dup pair ops catch whole-document copies, this
    * catches boilerplate runs stitched into otherwise-unique docs).
    * Emits per doc the distinct span count, duplicated span count, and
    * duplicated per-mille — exact integer arithmetic only.
    *
    * Scale shape, linear in corpus grams:
    *   - ONE codegen n-gram pass ([[graft.expr.NGrams]]), each gram
    *     reduced to a portable 32-bit-range hash so every downstream
    *     exchange ships 16-byte (doc, hash) rows, never gram strings;
    *   - per-doc distinct → posting counts via ONE map-side-combining
    *     hash-agg on the gram hash;
    *   - join back on the gram hash → per-doc agg. The posting COUNT
    *     is precomputed, so the join-back's output is exactly its
    *     input rows — a million-doc boilerplate gram adds no fan-out
    *     beyond the (doc, gram) rows that already exist. */
  def spanFraction(docs: DataFrame, n: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        explode(call_function(graft.expr.VectorExprs.ngramsName,
          split(col("text"), "\\s+"), lit(n))).as("g"))
      .select(col("doc_id"), tokHash(col("g")).as("gh"))
      .distinct()
    val posting = grams.groupBy("gh").agg(count(lit(1)).as("_docs"))
    grams.join(posting, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("_docs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_pm", expr("n_dup_spans * 1000 div n_spans"))
      .orderBy("doc_id")
  }

  def dedupSpan(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExprs.register(spark)
    spanFraction(Tables.documents(spark, dir), 8)
  }

  val dedupSpanSql: String =
    """WITH docs AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, ('0x'||substr(md5(g),1,8))::BIGINT AS gh
      |  FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(w) - 6),
      |        i -> array_to_string(w[i:i+7], ' '))) AS g
      |    FROM docs) t),
      |posting AS (SELECT gh, COUNT(*) AS nd FROM grams GROUP BY gh)
      |SELECT g.doc_id, COUNT(*) AS n_spans,
      |  CAST(SUM(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_spans,
      |  CAST(SUM(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END) * 1000
      |    // COUNT(*) AS BIGINT) AS dup_pm
      |FROM grams g JOIN posting p ON g.gh = p.gh
      |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- dedup_substring
  /** Exact-substring dedup at SPAN granularity — the Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better",
    * 2022) primitive: report every maximal span of ≥ minTokens
    * consecutive tokens that also appears verbatim in ANOTHER
    * document. Whole-doc Jaccard and the per-mille span fraction
    * dilute long verbatim runs stitched into otherwise-unique docs;
    * this surfaces them with their position and length so a pipeline
    * can cut the span, not the doc.
    *
    * Formulation (sorted-gram-extension, no suffix array): a repeated
    * span of L ≥ minTokens tokens is exactly a run of L−g+1
    * CONSECUTIVE positions whose g-grams are each shared with another
    * doc. So: positioned g-grams (codegen [[graft.expr.NGrams]] +
    * posexplode), cross-doc posting counts on the 60-bit gram hash,
    * then per-doc gaps-and-islands (pos − row_number) to stitch
    * consecutive duplicated positions into maximal runs. Linear in
    * corpus grams: one explode, one map-side-combining posting agg,
    * one join-back on the gram-hash partitioning, and windows
    * partitioned by doc_id — millions of bounded partitions, never a
    * corpus-sized one. The posting count is precomputed, so a
    * boilerplate gram shared by a million docs adds no join fan-out
    * beyond the (doc, pos) rows that already exist. */
  def substringSpans(docs: DataFrame, g: Int, minTokens: Int): DataFrame = {
    def gramHash(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val grams = docs
      .select(col("doc_id"),
        posexplode(call_function(graft.expr.VectorExprs.ngramsName,
          split(col("text"), "\\s+"), lit(g))).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        gramHash(col("g")).as("gh"))
    val posting = grams.select(col("doc_id"), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("_docs"))
    val dup = grams.join(posting, "gh").filter(col("_docs") >= 2)
    dup
      .withColumn("_isl", col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("pos")).as("span_pos"),
        (count(lit(1)) + lit(g - 1).cast("long")).as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_rep_spans"),
        max(col("span_tokens")).as("max_span_tokens"),
        min(col("span_pos")).as("first_span_pos"))
      .orderBy("doc_id")
  }

  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExprs.register(spark)
    substringSpans(Tables.documents(spark, dir), 8, 16)
  }

  /** Oracle replays the identical positioned grams (1-based DuckDB
    * slice → pos = i−1), posting counts, and island arithmetic. */
  val dedupSubstringSql: String =
    """WITH docs AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS w
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM docs),
      |grams AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |    ('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15))::BIGINT
      |      AS gh
      |  FROM idx),
      |posting AS (
      |  SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gh),
      |dup AS (
      |  SELECT g.doc_id, g.pos FROM grams g JOIN posting p ON g.gh = p.gh
      |  WHERE p.nd >= 2),
      |isl AS (
      |  SELECT doc_id, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS k
      |  FROM dup),
      |spans AS (
      |  SELECT doc_id, MIN(pos) AS span_pos, COUNT(*) + 7 AS span_tokens
      |  FROM isl GROUP BY doc_id, k
      |  HAVING COUNT(*) + 7 >= 16)
      |SELECT doc_id, COUNT(*) AS n_rep_spans,
      |  CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
      |  CAST(MIN(span_pos) AS BIGINT) AS first_span_pos
      |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- dedup_chunks
  /** Content-defined chunking dedup — the rsync/backup-industry
    * primitive applied to corpus hygiene: split each document at
    * positions where a rolling 8-char window's portable hash ≡ 0
    * (mod 64), fingerprint the variable-size chunks between cuts, and
    * report per doc how many chunks are shared with ANOTHER document.
    * Because boundaries are chosen by CONTENT, an insertion near the
    * start of a copied document shifts only the chunks it touches —
    * every later boundary re-synchronizes — which is exactly what
    * fixed-stride blocking cannot do; this is the byte-level
    * complement of [[substringSpans]]' token spans (and the shape
    * that extends to opaque binary columns, where no tokenizer
    * exists).
    *
    * THIS IS THE SLOW VERIFICATION MODE — a full md5 at every byte
    * position, kept because the boundary rule is trivially replayable
    * in any engine and because [[gearChunkDedup]]'s re-sync behavior
    * is spec-pinned against it. Production cut points come from the
    * [[graft.expr.GearCuts]] rolling hash (O(1) ALU work per byte,
    * ~100× cheaper), which the driver keys `dedup_chunks` /
    * `mm_chunk_dedup` now run. Same cut-point interface: interior
    * positions + implicit cut at 1, chunks fingerprinted between
    * consecutive cuts. */
  def chunkDedup(docs: DataFrame, window: Int, mask: Int): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"),
      length(col("text")).as("len"))
    val cuts = base
      .filter(col("len") >= window + 1)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(2), col("len") - (window - 1))).as("i"))
      .filter(conv(substring(md5(
          expr(s"substring(text, i, $window)")), 1, 8), 16, 10)
        .cast("long") % mask === 0)
      .select(col("doc_id"), col("i").as("cut"))
      .union(base.select(col("doc_id"), lit(1).cast("int").as("cut")))
    val chunks = cuts.join(base, "doc_id")
      .withColumn("_next", coalesce(
        lead(col("cut"), 1).over(
          Window.partitionBy("doc_id").orderBy("cut")),
        col("len") + 1))
      .select(col("doc_id"),
        conv(substring(md5(
            expr("substring(text, cut, _next - cut)")), 1, 15), 16, 10)
          .cast("long").as("fp"))
    val posting = chunks.select(col("doc_id"), col("fp")).distinct()
      .groupBy("fp").agg(count(lit(1)).as("_docs"))
    chunks.join(posting, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_pm", expr("n_dup_chunks * 1000 div n_chunks"))
      .orderBy("doc_id")
  }

  /** PRODUCTION content-defined chunking — same report as
    * [[chunkDedup]] but cut points come from the
    * [[graft.expr.GearCuts]] rolling hash: ONE primitive pass per
    * blob (table lookup + shift + add per byte) instead of an md5
    * digest at every byte position (~100× constant-factor cut — at
    * 100 TB of binary that is hours vs weeks), and NO per-position
    * row explosion and NO per-doc window shuffle: the cut array is
    * computed in place, zipped with its own tail via a bounded
    * `transform`, and exploded into ~len/64 chunk rows directly —
    * map-only until the posting join. Because the gear modulus is
    * 2⁶, the cut decision depends only on the trailing 6 bytes, so
    * the cut set is positionally replayable (the DuckDB oracle
    * computes the identical closed form) and a blob split across
    * tasks with 6-byte overlap chunks identically. Chunks address the
    * blob through its HEX image (the canonical form both engines
    * render identically); fingerprints are md5 per CHUNK (~len/64
    * digests, not len). Input contract: (doc_id, bin BINARY). */
  def gearChunkDedup(base0: DataFrame): DataFrame = {
    graft.expr.VectorExprs.register(base0.sparkSession)
    val base = base0.select(col("doc_id"), hex(col("bin")).as("h"),
      length(col("bin")).as("len"),
      call_function(graft.expr.VectorExprs.gearCutsName, col("bin"))
        .as("cs"))
    val chunks = base
      .withColumn("cs2", concat(array(lit(1)), col("cs")))
      .select(col("doc_id"), col("h"),
        explode(expr("transform(cs2, (c, i) -> named_struct(" +
          "'cut', c, " +
          "'nxt', if(i = size(cs2) - 1, len + 1, element_at(cs2, i + 2))))"))
          .as("g"))
      .select(col("doc_id"),
        conv(substring(md5(expr(
            "substring(h, g.cut * 2 - 1, (g.nxt - g.cut) * 2)")), 1, 15),
          16, 10).cast("long").as("fp"))
    val posting = chunks.select(col("doc_id"), col("fp")).distinct()
      .groupBy("fp").agg(count(lit(1)).as("_docs"))
    chunks.join(posting, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_pm", expr("n_dup_chunks * 1000 div n_chunks"))
      .orderBy("doc_id")
  }

  /** DuckDB replay of [[gearChunkDedup]] over a caller-supplied base
    * CTE body producing (doc_id, h HEX-image, len byte-length): the
    * gear table is re-derived from md5 (G[b] = first byte of
    * md5(CAST(b AS VARCHAR))), and the cut rule's closed form — the
    * masked gear state after byte i−1 is Σ_{j=1..6} G[b_{i−j}]·2^{j−1}
    * mod 64 because older bytes have shifted out of the 6-bit state —
    * is evaluated positionally. */
  def gearChunkSql(baseCte: String): String = {
    val byteAt = (off: Int) =>
      s"gs[('0x'||substr(h, CAST((i-$off)*2-1 AS INTEGER), 2))::BIGINT + 1]"
    s"""WITH gear AS (
       |  SELECT b, ('0x'||substr(md5(CAST(b AS VARCHAR)),1,2))::BIGINT AS g
       |  FROM range(256) t(b)),
       |gl AS (SELECT list(g ORDER BY b) AS gs FROM gear),
       |base AS ($baseCte),
       |cuts AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS cut FROM (
       |    SELECT doc_id, h, unnest(range(7, len + 1)) AS i
       |    FROM base) z, gl
       |  WHERE (${byteAt(1)}
       |       + ${byteAt(2)} * 2
       |       + ${byteAt(3)} * 4
       |       + ${byteAt(4)} * 8
       |       + ${byteAt(5)} * 16
       |       + ${byteAt(6)} * 32) % 64 = 0
       |  UNION ALL SELECT doc_id, 1 FROM base),
       |m AS (
       |  SELECT c.doc_id, c.cut, b.h,
       |    COALESCE(LEAD(c.cut) OVER (PARTITION BY c.doc_id ORDER BY c.cut),
       |      b.len + 1) AS nxt
       |  FROM cuts c JOIN base b USING (doc_id)),
       |ch AS (
       |  SELECT doc_id,
       |    ('0x'||substr(md5(substr(h, cut * 2 - 1, (nxt - cut) * 2)),
       |      1,15))::BIGINT AS fp
       |  FROM m),
       |posting AS (
       |  SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY fp)
       |SELECT ch.doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  CAST(SUM(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END) * 1000
       |    // COUNT(*) AS BIGINT) AS dup_pm
       |FROM ch JOIN posting p ON ch.fp = p.fp
       |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin
  }

  def dedupChunks(spark: SparkSession, dir: String): DataFrame =
    gearChunkDedup(Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin")))

  val dedupChunksSql: String = gearChunkSql(
    """SELECT doc_id, hex(encode(text)) AS h,
      |    octet_length(encode(text)) AS len FROM documents""".stripMargin)

  // ----------------------------------------------- dedup_cluster_stats
  /** The dedup run's summary artifact — cluster-size histogram over
    * the connected components: how many singletons (unique docs), how
    * many pairs, how big is the largest blob. THE report a corpus
    * dedup pass publishes (keep-rate = n_clusters/n_docs; a giant
    * component flags a boilerplate family or a threshold set too low).
    * Derived from the oracle-verified [[dedupComponents]] by one more
    * |components|-row aggregation — cost is the components run itself,
    * the histogram is free. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame =
    dedupComponents(spark, dir)
      .groupBy(col("n_docs").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        min(col("component")).as("min_component"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        col("min_component"))
      .orderBy("cluster_size")

  val dedupClusterStatsSql: String =
    s"""WITH comp AS ($dedupComponentsSql)
       |SELECT n_docs AS cluster_size, COUNT(*) AS n_clusters,
       |  CAST(n_docs * COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(component) AS min_component
       |FROM comp GROUP BY 1 ORDER BY cluster_size""".stripMargin

  // ---------------------------------------------- dedup_incremental
  /** INCREMENTAL near-dup detection — the daily-ingest shape: a small
    * incoming batch is checked against the standing corpus WITHOUT
    * ever re-joining existing×existing (at 100 TB the standing side is
    * the lake; re-scoring it against itself every ingest is the cost
    * this operator exists to avoid). Same blocking-complete
    * (lang, log-size bucket ±1) scheme as [[ngramJaccard]] — the probe
    * explosion rides the SMALL incoming side, the standing side keeps
    * one bucket row per doc (in production: precomputed and stored
    * bucketed on (lang, bucket), so an ingest touches only its own
    * buckets' files). Output: every (new_doc, old_doc) pair at
    * j ≥ t. The oracle computes the full quadratic incoming×existing
    * answer from raw tokens, so blocking completeness is gate-checked,
    * not assumed. */
  def ngramJaccardAgainst(incoming: DataFrame, existing: DataFrame,
      threshold: Double): DataFrame = {
    def sets(d: DataFrame): DataFrame = tokens(d)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sort_array(collect_set(xxhash64(col("w")))).as("hs"))
      .withColumn("n", size(col("hs")))
    def bucket(n: Column): Column =
      floor(log(n.cast("double")) / math.log(1.0 / threshold))
    val corpus = sets(existing).select(col("doc_id").as("old_doc"),
        col("lang"), col("hs").as("hs2"), col("n").as("n2"))
      .withColumn("bk", bucket(col("n2")))
    val probe = sets(incoming).select(col("doc_id").as("new_doc"),
        col("lang").as("lang1"), col("hs").as("hs1"), col("n").as("n1"))
      .withColumn("bk1", explode(array(
        bucket(col("n1")) - 1, bucket(col("n1")), bucket(col("n1")) + 1)))
    corpus.join(probeSide(probe),
        col("lang") === col("lang1") && col("bk") === col("bk1") &&
          col("new_doc") =!= col("old_doc") &&
          least(col("n1"), col("n2")).cast("double") >=
            greatest(col("n1"), col("n2")).cast("double") * threshold)
      .select(col("new_doc"), col("old_doc"),
        call_function(graft.expr.VectorExprs.jaccardName,
          col("hs1"), col("hs2")).as("j"))
      .filter(col("j") >= threshold)
  }

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    graft.expr.VectorExprs.register(spark)
    val docs = Tables.documents(spark, dir)
    val isNew = pmod(graft.mask.MaskFunctions.portableHash(col("doc_id")),
      lit(5L)) === 0L
    ngramJaccardAgainst(docs.filter(isNew), docs.filter(!isNew), 0.9)
      .orderBy("new_doc", "old_doc")
  }

  val dedupIncrementalSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS w
      |  FROM documents),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
      |flag AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 5 = 0
      |      AS is_new
      |  FROM documents),
      |inter AS (
      |  SELECT a.doc_id AS new_doc, b.doc_id AS old_doc, COUNT(*) AS i
      |  FROM tok a JOIN tok b
      |    ON a.w = b.w AND a.lang = b.lang AND a.doc_id <> b.doc_id
      |  JOIN flag fa ON fa.doc_id = a.doc_id
      |  JOIN flag fb ON fb.doc_id = b.doc_id
      |  WHERE fa.is_new AND NOT fb.is_new
      |  GROUP BY 1, 2)
      |SELECT new_doc, old_doc,
      |  CAST(i AS DOUBLE)/CAST(s1.n + s2.n - i AS DOUBLE) AS j
      |FROM inter JOIN sizes s1 ON s1.doc_id = new_doc
      |JOIN sizes s2 ON s2.doc_id = old_doc
      |WHERE CAST(i AS DOUBLE)/CAST(s1.n + s2.n - i AS DOUBLE) >= 0.9
      |ORDER BY new_doc, old_doc""".stripMargin

  // ------------------------------------------------- dedup_keep_best
  /** Keeper selection by QUALITY, not id: production dedup keeps the
    * best document of each near-dup cluster (highest quality score,
    * smallest doc_id on ties), not the arbitrary min-id survivor of
    * [[applyPairs]] — dropping a clean original in favor of its
    * truncated copy is a real corpus regression. Composes the verified
    * component labels with the verified [[graft.text.TextAnalysis
    * .qualityScore]] (bit-identical across engines, so the arg-max is
    * engine-stable): per component the max score is one more hash-agg
    * over the label frame, and the tie-break is a MIN over the rows
    * that reach it — both combiner-friendly, no windows, no sort.
    * Emits per component the keeper and the drop count. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lbls = labels09(spark, dir)
    val scored = docs.select(col("doc_id"),
      graft.text.TextAnalysis.qualityScore(col("text")).as("_q"))
    // consumed by the per-component max AND the keeper filter-back —
    // checkpointing the skinny (doc_id, lbl, score) frame runs the
    // regex-heavy quality scan once instead of once per consumer
    val j = lbls.join(scored, "doc_id").cut
    val mx = j.groupBy("lbl")
      .agg(max(col("_q")).as("_mq"), count(lit(1)).as("n_docs"))
    j.join(mx, "lbl")
      .filter(col("_q") === col("_mq"))
      .groupBy(col("lbl").as("component"), col("n_docs"))
      .agg(min(col("doc_id")).as("keeper_doc"))
      .select(col("component"), col("keeper_doc"), col("n_docs"),
        (col("n_docs") - 1).as("n_dropped"))
      .orderBy("component")
  }

  val dedupKeepBestSql: String =
    s"""$componentLabelsCte,
       |q AS (SELECT doc_id,
       |  ${graft.text.TextAnalysis.qualityScoreSql("text")} AS q
       |  FROM documents),
       |j AS (SELECT l.lbl, l.id AS doc_id, q.q
       |  FROM labels l JOIN q ON q.doc_id = l.id),
       |mx AS (SELECT lbl, MAX(q) AS mq, COUNT(*) AS n_docs
       |  FROM j GROUP BY lbl)
       |SELECT j.lbl AS component, MIN(j.doc_id) AS keeper_doc,
       |  CAST(mx.n_docs AS BIGINT) AS n_docs,
       |  CAST(mx.n_docs - 1 AS BIGINT) AS n_dropped
       |FROM j JOIN mx ON j.lbl = mx.lbl AND j.q = mx.mq
       |GROUP BY j.lbl, mx.n_docs ORDER BY component""".stripMargin

  // ----------------------------------------------- dedup_recall_audit
  /** Recall audit of the MinHash-LSH path against the exact blocked
    * Jaccard truth set — the dedup-tuning counterpart of
    * knn_recall_audit: of the pairs the exact operator proves ≥
    * threshold, how many did the banded LSH candidate generation
    * recover? (Band/row counts trade recall for candidate volume; this
    * is the number that trade is tuned by.) Composes the two
    * oracle-verified operators; the audit join is pairs-sized, trivia
    * next to the searches. One row: truth size, LSH output size,
    * recovered overlap. */
  def dedupRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val truth = dedupNgram(spark, dir).select("d1", "d2")
    val mh = dedupMinhash(spark, dir).select(col("d1"), col("d2"))
    val overlap = truth.join(mh.withColumn("_hit", lit(1L)),
        Seq("d1", "d2"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_recovered"))
    overlap.crossJoin(
      broadcast(mh.agg(count(lit(1)).as("n_lsh_pairs"))))
      .select("n_true_pairs", "n_recovered", "n_lsh_pairs")
  }

  val dedupRecallAuditSql: String =
    s"""WITH t AS ($dedupNgramSql),
       |m AS ($dedupMinhashSql)
       |SELECT COUNT(*) AS n_true_pairs,
       |  CAST(SUM(CASE WHEN m.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_recovered,
       |  CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_lsh_pairs
       |FROM t LEFT JOIN m ON t.d1 = m.d1 AND t.d2 = m.d2""".stripMargin

  // ---------------------------------------------------- dedup_lines
  /** Line/sentence-level dedup census (the CCNet/RefinedWeb step that
    * whole-doc and span dedup both miss): each doc's sentences are
    * normalized and hashed, occurrence counts are taken over the WHOLE
    * corpus, and every doc reports how much of it is corpus-repeated
    * boilerplate (nav bars, cookie banners, syndicated footers). The
    * remove decision is per LINE, not per doc — a doc can be 90% novel
    * and still carry the same footer as a million others. Shape at
    * 100 TB: one linear explode, one hash-agg on the 8-byte line hash,
    * one join back on that same hash (partitioning reused), one
    * per-doc agg — no windows, no pair joins. */
  def dedupLines(spark: SparkSession, dir: String): DataFrame = {
    val segs = filter(split(col("text"), "[.!?]+"), s => s.rlike("\\w"))
    val lineHash = graft.mask.MaskFunctions.portableHash(
      regexp_replace(trim(lower(col("s"))), "\\s+", " "))
    val exploded = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(segs).as("s"))
      .select(col("doc_id"), lineHash.as("h"))
    val counts = exploded.groupBy("h").agg(count(lit(1)).as("n_occ"))
    exploded.join(counts, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_lines"))
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        floor(col("n_dup_lines") * 1000.0 / col("n_lines")).cast("long")
          .as("dup_permille"))
      .orderBy("doc_id")
  }

  val dedupLinesSql: String =
    """WITH e AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5(regexp_replace(trim(lower(s)), '\s+', ' ',
      |      'g')),1,8))::BIGINT AS h
      |  FROM (SELECT doc_id,
      |          unnest(list_filter(regexp_split_to_array(text, '[.!?]+'),
      |            s -> regexp_matches(s, '\w'))) AS s
      |        FROM documents)),
      |c AS (SELECT h, COUNT(*) AS n_occ FROM e GROUP BY h)
      |SELECT e.doc_id, COUNT(*) AS n_lines,
      |  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_lines,
      |  CAST(FLOOR(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) * 1000.0
      |    / COUNT(*)) AS BIGINT) AS dup_permille
      |FROM e JOIN c ON e.h = c.h
      |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- dedup_bloom
  /** Bloom-filter membership prefilter for incremental dedup — the
    * standing-corpus summary a 100 TB pipeline ships to the ingest
    * edge so that MOST new docs skip the expensive candidate join
    * entirely (a "definitely new" verdict costs 3 bit probes; only
    * "maybe present" docs proceed to [[dedupIncremental]]'s exact
    * check). The filter is PORTABLE: k=3 positions come from disjoint
    * md5-hex slices of the normalized-text fingerprint, the m=16384
    * bits live as 512 BIGINT words built with one bit_or hash-agg, so
    * the oracle engine rebuilds the entire bit array bit-for-bit and
    * the false-positive count is an exact, reproducible number (the
    * bits-per-key sizing knob is graded by exactly this number).
    * Probe = 3 lookups against the broadcast word table; the report
    * proves zero false NEGATIVES by construction (n_present counts
    * every true member among the maybes). Membership is keyed on the
    * 8-token HEAD fingerprint (the [[graft.pipeline.CorpusPipeline]]
    * `pipe_cross_source` syndication signal), which real corpora
    * share across batches, so the true-member path is exercised; m is
    * deliberately small (2048) so the false-positive path is too —
    * production sizes m per expected key count. */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val m = 2048L // bits, as 64 × 32-bit words in BIGINTs
    val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(array_join(slice(split(norm, " "), 1, 8), " ")).as("fp"))
    val isNew = pmod(graft.mask.MaskFunctions.portableHash(col("doc_id")),
      lit(5L)) === 0L
    val standing = docs.filter(!isNew)
    val incoming = docs.filter(isNew)
    def pos(i: Int): Column = pmod(
      conv(substring(col("fp"), 1 + 8 * i, 8), 16, 10).cast("long"), lit(m))
    def entries(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(array(pos(0), pos(1), pos(2))).as("p"))
      .select(col("doc_id"), expr("CAST(p DIV 32 AS BIGINT)").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("mask"))
    val words = entries(standing).groupBy("word")
      .agg(expr("bit_or(mask)").as("bits"))
    val filterStats = words.agg(
      sum(expr("CAST(bit_count(bits) AS BIGINT)")).as("n_bits_set"))
      .crossJoin(standing.agg(countDistinct(col("fp")).as("n_keys")))
    val probed = entries(incoming)
      .join(words, Seq("word"), "left_outer")
      .groupBy("doc_id")
      .agg(sum(when(expr("(bits & mask) = mask"), 1L).otherwise(0L)).as("nset"),
        count(lit(1)).as("ntot"))
      .select(col("doc_id"), (col("nset") === col("ntot")).as("maybe"))
    val withTruth = probed.join(
      incoming.join(standing.select(col("fp")).distinct(), Seq("fp"), "left_semi")
        .select(col("doc_id"), lit(true).as("present")),
      Seq("doc_id"), "left_outer")
      .select(col("maybe"), coalesce(col("present"), lit(false)).as("present"))
    withTruth.agg(count(lit(1)).as("n_probes"),
      sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"),
      sum(when(col("present"), 1L).otherwise(0L)).as("n_present"),
      sum(when(col("maybe") && !col("present"), 1L).otherwise(0L))
        .as("n_false_pos"))
      .crossJoin(filterStats)
      .select(col("n_keys"), col("n_bits_set"), col("n_probes"),
        col("n_maybe"), col("n_present"), col("n_false_pos"))
  }

  val dedupBloomSql: String =
    """WITH canon AS (
      |  SELECT doc_id,
      |    md5(array_to_string((regexp_split_to_array(
      |      regexp_replace(trim(lower(text)), '\s+', ' ', 'g'),
      |      ' '))[1:8], ' ')) AS fp
      |  FROM documents),
      |flag AS (
      |  SELECT doc_id,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 5 = 0
      |      AS is_new
      |  FROM canon),
      |standing AS (SELECT c.doc_id, fp FROM canon c
      |             JOIN flag f ON c.doc_id = f.doc_id WHERE NOT is_new),
      |incoming AS (SELECT c.doc_id, fp FROM canon c
      |             JOIN flag f ON c.doc_id = f.doc_id WHERE is_new),
      |spos AS (
      |  SELECT ('0x'||substr(fp,1,8))::BIGINT % 2048 AS p FROM standing
      |  UNION ALL
      |  SELECT ('0x'||substr(fp,9,8))::BIGINT % 2048 FROM standing
      |  UNION ALL
      |  SELECT ('0x'||substr(fp,17,8))::BIGINT % 2048 FROM standing),
      |words AS (
      |  SELECT CAST(FLOOR(p / 32) AS BIGINT) AS word,
      |    bit_or((1::BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
      |  FROM spos GROUP BY 1),
      |fstats AS (
      |  SELECT CAST(SUM(CAST(bit_count(bits) AS BIGINT)) AS BIGINT)
      |    AS n_bits_set FROM words),
      |kstats AS (SELECT COUNT(DISTINCT fp) AS n_keys FROM standing),
      |ppos AS (
      |  SELECT doc_id, fp, ('0x'||substr(fp,1,8))::BIGINT % 2048 AS p
      |    FROM incoming
      |  UNION ALL
      |  SELECT doc_id, fp, ('0x'||substr(fp,9,8))::BIGINT % 2048
      |    FROM incoming
      |  UNION ALL
      |  SELECT doc_id, fp, ('0x'||substr(fp,17,8))::BIGINT % 2048
      |    FROM incoming),
      |pw AS (
      |  SELECT doc_id, fp, CAST(FLOOR(p / 32) AS BIGINT) AS word,
      |    (1::BIGINT) << CAST(p % 32 AS INTEGER) AS mask
      |  FROM ppos),
      |hit AS (
      |  SELECT doc_id, MIN(fp) AS fp,
      |    SUM(CASE WHEN (bits & mask) = mask THEN 1 ELSE 0 END) AS nset,
      |    COUNT(*) AS ntot
      |  FROM pw LEFT JOIN words USING (word) GROUP BY doc_id),
      |verdict AS (
      |  SELECT nset = ntot AS maybe,
      |    EXISTS (SELECT 1 FROM standing s WHERE s.fp = hit.fp) AS present
      |  FROM hit)
      |SELECT (SELECT n_keys FROM kstats) AS n_keys,
      |  (SELECT n_bits_set FROM fstats) AS n_bits_set,
      |  COUNT(*) AS n_probes,
      |  CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
      |  CAST(SUM(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_present,
      |  CAST(SUM(CASE WHEN maybe AND NOT present THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_false_pos
      |FROM verdict""".stripMargin

  // --------------------------------------------- dedup_edit_distance
  /** Edit-distance near-dup pairs — the character-level complement to
    * token-set Jaccard: catches single-character typo/OCR drift that
    * keeps the token SET intact but not the bytes, and costs an exact
    * Levenshtein DP only on BLOCKED candidates. Each doc is reduced
    * to its 64-char normalized prefix (lower/strip-punct/collapse —
    * same canon as [[normalizedExact]]; the prefix bounds the DP at
    * 64×64 per pair), blocked on (first 12 canon chars, length div
    * 16) — a deliberate within-block contract (an edit inside the
    * first 12 chars lands in another block; MinHash/ngram keys own
    * that recall), replayed identically by the oracle so completeness
    * is defined, not assumed. The 12-char prefix is the selectivity
    * knob: at 6 chars this corpus's template-heavy openings collapse
    * into ~200-doc blocks (~400k DP pairs, 70× the work); 12 chars
    * keeps max block ≈ 13. Shape: |block|² pairs only inside each
    * (prefix, length-bucket) shuffle bucket; AQE skew-split cuts any
    * residual hot block. */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 8): DataFrame = {
    // normalize only the first 256 raw chars (enough to yield 64
    // canon chars unless the opening is >75% punctuation — part of
    // the replayed contract): the regex pass is the per-row cost and
    // must not touch the full document body
    val canon = substring(trim(regexp_replace(regexp_replace(
      lower(substring(col("text"), 1, 256)), "[^a-z0-9\\s]", " "),
      "\\s+", " ")), 1, 64)
    val keyed = docs
      .select(col("doc_id"), canon.as("c64"))
      .withColumn("p", substring(col("c64"), 1, 12))
      .withColumn("lb", expr("length(c64) div 16"))
      // explicit keyed width (the dedup_lsh_sweep precedent): the DP
      // join's cost is per PAIR, not per byte, so AQE's byte-based
      // sizing folds it into a couple of tasks; the block-keyed
      // repartition is exempt from coalescing, both self-join sides
      // ride it with no further exchange, and the width follows the
      // cluster
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("p"), col("lb"))
    val a = keyed.select(col("doc_id").as("d1"), col("c64").as("t1"),
      col("p"), col("lb"))
    val b = keyed.select(col("doc_id").as("d2"), col("c64").as("t2"),
      col("p"), col("lb"))
    a.join(b, Seq("p", "lb"))
      .filter(col("d1") < col("d2"))
      .withColumn("dist", levenshtein(col("t1"), col("t2")))
      .filter(col("dist") <= maxDist && col("dist") > 0)
      .select("d1", "d2", "dist")
      .orderBy("d1", "d2")
  }

  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame =
    editDistancePairs(Tables.documents(spark, dir))

  val dedupEditDistanceSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    substr(trim(regexp_replace(regexp_replace(
      |      lower(substr(text, 1, 256)),
      |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), 1, 64) AS c64
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, c64, substr(c64, 1, 12) AS p,
      |    length(c64) // 16 AS lb FROM c)
      |SELECT a.doc_id AS d1, b.doc_id AS d2,
      |  CAST(levenshtein(a.c64, b.c64) AS INTEGER) AS dist
      |FROM k a JOIN k b
      |  ON a.p = b.p AND a.lb = b.lb AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.c64, b.c64) BETWEEN 1 AND 8
      |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------ dedup_winnow_pairs
  /** Winnowing-based near-dup PAIR generation — the MOSS pipeline's
    * second half: docs sharing ≥ 3 winnowed fingerprints are
    * near-dup candidates, found by a hash-equality JOIN on the
    * fingerprint (the blocking key), never pairwise text. Two scale
    * guards make the join linear: fingerprints carried by a single
    * doc can't form a pair (dropped), and fingerprints shared by
    * > 50 docs are STOP-fingerprints (boilerplate — each would emit
    * O(n²) candidate rows; dropping them is the standard posting-cap
    * that bounds every band/blocking join in this module). Reported:
    * the top-50 pairs by shared-fingerprint count with a
    * containment-style per-mille over the smaller doc's fingerprint
    * set. Fingerprints come from [[graft.text.TextAnalysis]]'s
    * winnowing (k=8 char-grams, window 4, rightmost-min) — the
    * locality guarantee means any ≥ 11-char common substring shares
    * a fingerprint, so true near-dups cannot be missed by sampling. */
  def dedupWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // the fingerprint postings are the persisted h-bucketed layout
    // (TextAnalysis.winnowLayouts): the gram-explode winnowing scan is
    // paid once per corpus ever, and the posting cap + pair self-join
    // below ride the h-buckets without an exchange
    val (fps, stats) = graft.text.TextAnalysis.winnowLayouts(spark, dir)
    val posting = fps.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= 50)
      .select("h")
    val kept = fps.join(posting, "h")
    // per-doc fingerprint counts are already IN the stats layout
    // (n_hashes = distinct h per doc) — a doc_id-bucketed scan, not a
    // recount of the postings
    val perDoc = stats.select(col("doc_id"), col("n_hashes").as("nf"))
    val pairs = kept.select(col("h"), col("doc_id").as("doc_a"))
      .join(kept.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
    pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("nf").as("_fa")),
        "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col("nf").as("_fb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("n_shared * 1000 div least(_fa, _fb)").as("containment_pm"))
      // corpus-proportional top-K: orderBy+limit plans
      // TakeOrderedAndProject — reportSort's coalesce(1) would pull the
      // whole pair aggregation into one task (r12 ADVICE).
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  val dedupWinnowPairsSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, norm,
      |    unnest(generate_series(1, length(norm) - 7)) AS pos
      |  FROM d WHERE length(norm) >= 11),
      |g AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    ('0x'||substr(md5(substr(norm, CAST(pos AS INT), 8)),
      |      1, 8))::BIGINT * 1048576
      |      + (1048575 - CAST(pos AS BIGINT)) AS key
      |  FROM e),
      |s AS (
      |  SELECT doc_id, pos,
      |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
      |  FROM g),
      |fp AS (
      |  SELECT DISTINCT doc_id, sel // 1048576 AS h
      |  FROM s WHERE pos >= 4),
      |keep AS (
      |  SELECT h FROM fp GROUP BY h
      |  HAVING COUNT(*) >= 2 AND COUNT(*) <= 50),
      |kept AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h)),
      |pd AS (SELECT doc_id, COUNT(*) AS nf FROM fp GROUP BY doc_id),
      |pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    COUNT(*) AS n_shared
      |  FROM kept a JOIN kept b
      |    ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT pr.doc_a, pr.doc_b, pr.n_shared,
      |  pr.n_shared * 1000 // LEAST(fa.nf, fb.nf) AS containment_pm
      |FROM pr JOIN pd fa ON pr.doc_a = fa.doc_id
      |  JOIN pd fb ON pr.doc_b = fb.doc_id
      |ORDER BY pr.n_shared DESC, pr.doc_a, pr.doc_b
      |LIMIT 50""".stripMargin

  // -------------------------------------------------- dedup_lsh_sweep
  /** LSH BANDING PARAMETER SWEEP — the S-curve tuning table behind
    * [[minhashLsh]]'s fixed (4 bands × 8 rows) choice: the SAME 32
    * permutation minima are re-banded at (2×16, 4×8, 8×4, 16×2) and,
    * per configuration, the operator reports how many candidate pairs
    * the banding emits (the verify-join COST) and how many of them the
    * signature agreement rate calls near-duplicates (the YIELD,
    * block-match ≥ 13/16 ≈ Jaccard² 0.81 per r=2 block, the 0.9-ish
    * operating point) — more, smaller bands slide the S-curve left:
    * more candidates, diminishing extra yield. The minima come from
    * ONE MinHashBands pass at bands=32 (a 1-row band signature is an
    * affine bijection of its min, inverted by subtracting the seed
    * constant); all four configs reshape that one array —
    * tokenization and hashing are never recomputed. Pairs are
    * COUNTED, never materialized downstream, and the min/max-size
    * necessary condition prunes the candidate join exactly as the
    * production operator does. */
  def dedupLshSweep(spark: SparkSession, dir: String): DataFrame =
    dedupLshSweep(spark, dir, sampleGate = 1)

  /** `sampleGate` is the EXECUTABLE sample mode a production sweep
    * runs with: k > 1 hash-gates the corpus to ~1/k of DOCS (one
    * deterministic xxhash64 test per doc, applied BEFORE tokenization
    * or signature build, so the whole pipeline — not just the join —
    * costs the sample, not the corpus). Sampling docs thins candidate
    * and near-dup PAIRS by the same ~1/k² factor, so the per-config
    * YIELD ratio — the number the tuning decision reads — is
    * sampling-invariant (ScaleSpec pins full-vs-sampled yields at
    * sf0.1); absolute counts are NOT invariant, which is exactly why
    * the full mode stays the driver-verified default. At a growing
    * corpus, grow the gate proportionally and the sweep's cost stays
    * CONSTANT — the S-curve is a property of the duplicate structure,
    * not of the corpus size. */
  def dedupLshSweep(spark: SparkSession, dir: String, sampleGate: Int)
      : DataFrame = {
    graft.expr.VectorExprs.register(spark)
    require(sampleGate >= 1, "sampleGate k keeps ~1/k of docs; k >= 1")
    val corpus = {
      val d = Tables.documents(spark, dir)
      if (sampleGate == 1) d
      else d.filter(pmod(xxhash64(col("doc_id")), lit(sampleGate)) === 0)
    }
    // sig = seed*31 + min  (MinHashBands with rows-per-band = 1): an
    // affine bijection of the min, inverted here so the raw minima
    // feed every banding below
    val C = 1125899906842597L * 31L
    val sets = tokens(corpus).groupBy("doc_id")
      .agg(sort_array(collect_set(tokHash(col("w")))).as("hs"))
      .withColumn("n", size(col("hs")))
    // Each permutation minimum is provably < 2³² (xor of two 32-bit
    // values), so an r=2 block packs EXACTLY into one long:
    // bs[j] = m[2j] << 32 | m[2j+1] — a bijection, not a hash, so
    // block-signature equality IS block equality and stays exact
    // across the oracle boundary. Rows carry 16 longs, join keys are
    // one long, and every downstream decision is bit arithmetic on a
    // 16-bit block-match mask.
    val minima = sets.select(col("doc_id"), col("n"),
        transform(call_function(graft.expr.VectorExprs.minhashName,
          col("hs"), lit(32), lit(32)), s => s - C).as("m"))
      .select(col("doc_id"), col("n"),
        expr("transform(sequence(0, 15), j -> " +
          "shiftleft(m[j * 2], 32) + m[j * 2 + 1])").as("bs"))
      .cut
    // PROFILE DEDUP before the pair join: a self-similar corpus packs
    // hundreds of docs onto ONE identical signature vector, and those
    // mega-groups are exactly the skewed buckets that make a naive
    // banded self-join quadratic in one task. Group docs by (blocks,
    // size) into profiles with multiplicity w: within-profile pairs
    // (w·(w−1)/2 — all 16 blocks match, every config hits) are pure
    // arithmetic with NO join; the banded self-join runs over DISTINCT
    // profiles only (7× fewer pairs, no mega-buckets), each cross pair
    // weighted w1·w2. One join at the finest banding (16 bands × 2
    // rows) suffices: a coarse band matches iff ALL its r=2 sub-blocks
    // match, so every coarser config's membership is derived from the
    // per-pair block-match mask, never re-joined. First-matching-band
    // emission (mask has no set bit before `band`) yields each profile
    // pair exactly once with no distinct pass. The mask itself is ONE
    // codegen MatchMask call per pair evaluation — an earlier HOF /
    // generated-comparison-forest formulation fell out of whole-stage
    // codegen and ran 5× slower on the same 21M raw pair evaluations.
    val prof = minima.groupBy("bs", "n")
      .agg(count(lit(1)).as("w"), min(col("doc_id")).as("pid"))
      .cut
    val within = prof.filter(col("w") >= 2)
      .agg(sum(expr("w * (w - 1) div 2")).as("pairs"))
      .select(explode(array(Seq(2L, 4L, 8L, 16L).map(lit): _*))
          .as("bands"),
        coalesce(col("pairs"), lit(0L)).as("n_cand"),
        coalesce(col("pairs"), lit(0L)).as("n_est"))
    // SIZE-BANDED bucket keys (the PPJoin-style length filter, done
    // as a co-grouping key instead of a post-join predicate): a
    // qualifying pair has min/max ≥ 0.9, and the integer size band
    // g = 4·⌊log₂ n⌋ + top-2-sub-octave-bits has multiplicative width
    // ≥ 8/7 > 10/9, so qualifying sizes land in the same or adjacent
    // band — one side probes (g, g+1), the other builds at g, and
    // ratio-hopeless pairs never meet at all (the mega signature
    // buckets that dominated the join split by size). Pure bit
    // arithmetic: no libm log whose ulp could disagree across
    // executors at a band boundary. The (g₁<g₂) ∨ (g₁=g₂ ∧ p₁<p₂)
    // order keeps emission exactly-once across the dual probe.
    val gExpr = expr("(length(bin(n)) - 1) * 4 + " +
      "cast(shiftright(n, greatest(0, length(bin(n)) - 3)) & 3 as int)")
    val buckets = prof
      .withColumn("g", gExpr)
      .select(col("pid"), col("n"), col("w"), col("bs"), col("g"),
        posexplode(col("bs")).as(Seq("band", "s")))
    val x = buckets
      .withColumn("gk", explode(array(col("g"), col("g") + 1)))
      .select(col("band"), col("s"), col("gk"),
        col("pid").as("p1"), col("n").as("n1"), col("w").as("w1"),
        col("bs").as("b1"), col("g").as("g1"))
    val y = buckets.select(col("band").as("band2"), col("s").as("t"),
      col("g").as("gk2"), col("pid").as("p2"), col("n").as("n2"),
      col("w").as("w2"), col("bs").as("b2"), col("g").as("g2"))
    // mask bit j = block j matches; config b groups 16/b consecutive
    // blocks, so hit_b = some aligned run of 16/b set bits
    def consec(k: Int): Column = {
      val anded = (1 until k).foldLeft("mask")((e, s) =>
        s"($e & (mask >> $s))")
      val keep = (0 until 16 by k).map(j => 1L << j).sum
      expr(s"($anded & $keep) != 0")
    }
    // The banded join evaluates tens of millions of mask tests whose
    // INPUT bytes are tiny (distinct profiles, 16 longs each) — the
    // compute-per-byte case AQE's byte-based coalescing mis-sizes to
    // ONE task (measured: a 7 s single-thread stage at bench SF).
    // Pin the join's width to cluster parallelism with an EXPLICIT
    // keyed repartition (user-specified widths are exempt from AQE
    // coalescing); the key includes the signature, so profiles spread
    // evenly and the width follows the cluster, not a constant.
    val xw = x.repartition(spark.sparkContext.defaultParallelism,
      col("band"), col("s"), col("gk"))
    val pairs = xw.join(y,
        col("band") === col("band2") && col("s") === col("t") &&
          col("gk") === col("gk2") &&
          (col("g1") < col("g2") ||
            (col("g1") === col("g2") && col("p1") < col("p2"))) &&
          least(col("n1"), col("n2")).cast("double") >=
            greatest(col("n1"), col("n2")).cast("double") * 0.9 &&
          expr("(graft_match_mask(b1, b2) & " +
            "(shiftleft(1L, band) - 1L)) = 0L"))
      .select((col("w1") * col("w2")).as("w"),
        expr("graft_match_mask(b1, b2)").as("mask"))
      .select(col("w"),
        expr("bit_count(mask)").cast("long").as("matches"),
        consec(8).as("hit2"), consec(4).as("hit4"),
        consec(2).as("hit8"), (col("mask") =!= 0L).as("hit16"))
    val cross = pairs.select(col("w"), col("matches"), explode(array(
        struct(lit(2L).as("bands"), col("hit2").as("hit")),
        struct(lit(4L).as("bands"), col("hit4").as("hit")),
        struct(lit(8L).as("bands"), col("hit8").as("hit")),
        struct(lit(16L).as("bands"), col("hit16").as("hit")))).as("c"))
      .filter(col("c.hit"))
      .groupBy(col("c.bands").as("bands"))
      .agg(sum(col("w")).as("n_cand"),
        sum(when(col("matches") >= 13, col("w")).otherwise(0L))
          .as("n_est"))
    cross.unionByName(within)
      .groupBy("bands")
      .agg(sum(col("n_cand")).as("n_candidates"),
        sum(col("n_est")).as("n_est_dup"))
      // a duplicate-free corpus yields 0 candidates at some config:
      // drop those rows (the oracle emits none, and yield_pm would be
      // a non-ANSI div-by-zero null) instead of publishing 0/null
      .filter(col("n_candidates") > 0)
      .select(col("bands"), expr("32 div bands").as("rows_per_band"),
        col("n_candidates"), col("n_est_dup"),
        expr("n_est_dup * 1000 div n_candidates").as("yield_pm"))
      .reportSort("bands")
  }

  val dedupLshSweepSql: String =
    """WITH tok AS (
      |  SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS h
      |  FROM (SELECT doc_id,
      |          unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS w
      |        FROM documents)),
      |ths AS (SELECT DISTINCT doc_id, h FROM tok),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ths GROUP BY doc_id),
      |perms AS (
      |  SELECT doc_id, i,
      |    MIN(xor((h * (2*i+1)) & 4294967295, h >> (i % 16))) AS mh
      |  FROM ths CROSS JOIN range(32) t(i)
      |  GROUP BY doc_id, i),
      |mins AS (
      |  SELECT doc_id, list(mh ORDER BY i) AS m FROM perms GROUP BY 1),
      |bl AS (
      |  -- two's-complement wrap of (hi << 32) | lo: a 32-bit minimum
      |  -- >= 2^31 shifts into the sign bit, which Spark's long <<
      |  -- wraps silently and DuckDB's checked INT64 multiply rejects,
      |  -- so the wrap is made explicit (the pack stays injective)
      |  SELECT doc_id, n,
      |    list_transform(range(0, 16),
      |      j -> (CASE WHEN m[2*j + 1] >= 2147483648
      |            THEN m[2*j + 1] - 4294967296
      |            ELSE m[2*j + 1] END) * 4294967296 + m[2*j + 2]) AS bs
      |  FROM mins JOIN sizes USING (doc_id)),
      |bk AS (
      |  SELECT doc_id, n, band, bs[band + 1] AS s, bs
      |  FROM (SELECT doc_id, n, bs, unnest(range(0, 16)) AS band
      |        FROM bl)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM bk x JOIN bk y
      |    ON x.band = y.band AND x.s = y.s AND x.doc_id < y.doc_id
      |  WHERE CAST(LEAST(x.n, y.n) AS DOUBLE) >=
      |        CAST(GREATEST(x.n, y.n) AS DOUBLE) * 0.9),
      |v AS (
      |  SELECT c.d1, c.d2,
      |    list_transform(range(1, 17),
      |      i -> a.bs[i] = z.bs[i]) AS e16
      |  FROM cand c
      |  JOIN bl a ON a.doc_id = c.d1
      |  JOIN bl z ON z.doc_id = c.d2),
      |v2 AS (
      |  SELECT
      |    CAST(list_sum(list_transform(e16,
      |      x -> CASE WHEN x THEN 1 ELSE 0 END)) AS BIGINT) AS matches,
      |    e16,
      |    list_transform(range(1, 9),
      |      j -> e16[2*j - 1] AND e16[2*j]) AS e8
      |  FROM v),
      |v3 AS (
      |  SELECT matches, e16, e8,
      |    list_transform(range(1, 5),
      |      j -> e8[2*j - 1] AND e8[2*j]) AS e4
      |  FROM v2),
      |v4 AS (
      |  SELECT matches, e16, e8, e4,
      |    list_transform(range(1, 3),
      |      j -> e4[2*j - 1] AND e4[2*j]) AS e2
      |  FROM v3),
      |m AS (
      |  SELECT matches, unnest([2, 4, 8, 16]) AS bands,
      |    unnest([list_contains(e2, true), list_contains(e4, true),
      |            list_contains(e8, true), list_contains(e16, true)])
      |      AS hit
      |  FROM v4)
      |SELECT CAST(bands AS BIGINT) AS bands,
      |  CAST(32 // bands AS BIGINT) AS rows_per_band,
      |  COUNT(*) AS n_candidates,
      |  CAST(SUM(CASE WHEN matches >= 13 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_est_dup,
      |  CAST(SUM(CASE WHEN matches >= 13 THEN 1 ELSE 0 END) * 1000
      |    // COUNT(*) AS BIGINT) AS yield_pm
      |FROM m WHERE hit GROUP BY bands ORDER BY bands""".stripMargin

  // ------------------------------------------------ dedup_char_jaccard
  /** CHARACTER-4-GRAM Jaccard near-dup pairs — the tokenizer-free
    * robustness layer under [[ngramJaccard]]'s word sets: spacing,
    * punctuation, and scriptio-continua languages all defeat a
    * whitespace tokenizer, while character shingles see through them
    * (the form cross-lingual corpus dedup actually runs).
    *
    * 100 TB shape — the exact PPJoin PREFIX FILTER, not size blocking
    * (char-gram set sizes cluster tightly, so a log-size bucket puts
    * most of a language in ONE bucket and the verify join goes
    * quadratic — the r10 bench caught exactly that at 34 s/sf0.1):
    * a qualifying pair at j ≥ t MUST share an element inside each
    * side's (n − ⌈t·n⌉ + 1)-element prefix under ONE global element
    * order (Xiao et al., PPJoin) — and the order that makes the
    * filter BITE is ascending DOCUMENT FREQUENCY (rarest first): a
    * hash-ordered prefix still carries the corpus-common shingles and
    * their postings go quadratic (the r10 probe measured it), while a
    * df-ordered prefix holds each doc's RAREST shingles, whose
    * postings are short by definition. So: one corpus-linear
    * (doc, gram) explode → df hash-agg → per-doc windows (doc-bounded)
    * rank grams by (df, hash) → candidates from the equi-join on
    * exploded prefix postings. No false negatives: any total order
    * satisfies the prefix lemma, the codegen merge-intersection
    * verifies every candidate, and the i·den ≥ (n₁+n₂−i)·num gate is
    * the exact j ≥ num/den test with no float — the threshold is a
    * RATIONAL so every size/prefix/verify bound stays integer-exact
    * at any setting, not just the 0.8 default.
    *
    * Shingling is by Unicode CODE POINT (`(?s).` matches one code
    * point, surrogate pairs never split), matching the oracle's
    * code-point `substr` — emoji / supplementary-plane CJK shingle
    * identically on both engines. */
  def charJaccard(docs: DataFrame, tNum: Int = 4, tDen: Int = 5)
      : DataFrame = {
    graft.expr.VectorExprs.register(docs.sparkSession)
    require(tNum > 0 && tNum < tDen, "threshold num/den must be in (0,1)")
    // ONE codegen pass builds the sorted-distinct gram-hash set
    // (graft_char_gram_hashes) — the regexp_extract_all + HOF
    // transform pipeline it replaces was CodegenFallback and paid a
    // regex match + string alloc per character (bit-identical output;
    // R12PerfSpec pins the equivalence against the interpreted form)
    val sets = docs
      .select(col("doc_id"), col("lang"),
        expr("graft_char_gram_hashes(text, 4)").as("hs"))
      .withColumn("n", size(col("hs")))
      .filter(col("n") > 0)
      .cut
    val grams = sets.select(col("doc_id"), col("lang"), col("n"),
      explode(col("hs")).as("gh"))
    val df = grams.groupBy("gh").agg(count(lit(1)).as("_df"))
    // prefix length n − ⌈t·n⌉ + 1, with ⌈t·n⌉ = (num·n + den − 1) div den
    // exact for any rational t; rank grams inside each doc by the
    // global (df, hash) order
    val prefix = grams.join(df, "gh")
      .withColumn("_rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("_df", "gh")))
      .filter(col("_rk") <=
        expr(s"n - ((n * $tNum + ${tDen - 1}) div $tDen) + 1"))
      .select(col("doc_id"), col("lang"), col("n"),
        col("_rk").as("pk"), col("gh").as("ph"))
    val a = prefix.select(col("doc_id").as("d1"), col("lang"),
      col("n").as("n1"), col("pk").as("pk1"), col("ph"))
    val b = prefix.select(col("doc_id").as("d2"),
      col("lang").as("lang2"), col("n").as("n2"), col("pk").as("pk2"),
      col("ph").as("ph2"))
    val cand = a.join(probeSide(b),
        col("ph") === col("ph2") && col("lang") === col("lang2") &&
          col("d1") < col("d2") &&
          least(col("n1"), col("n2")) * tDen >=
            greatest(col("n1"), col("n2")) * tNum &&
          // PPJoin POSITIONAL filter (Xiao et al. §3.2): a prefix match
          // at doc-local sorted ranks (pk1, pk2) bounds the overlap by
          // 1 + min(n1−pk1, n2−pk2); j ≥ num/den needs the exact
          // overlap α = ⌈num·(n1+n2)/(num+den)⌉, so prune matches whose
          // bound can't reach it. For any qualifying pair the FIRST
          // common gram in the global (df, hash) order sits inside both
          // prefixes at minimal ranks and passes this bound, so the
          // surviving candidate set still contains every true pair —
          // the merge-intersection verify below is unchanged.
          (lit(1L) + least(col("n1") - col("pk1"),
            col("n2") - col("pk2"))) * (tNum + tDen) >=
            (col("n1") + col("n2")) * tNum)
      .select(col("d1"), col("d2")).distinct()
    cand
      .join(sets.select(col("doc_id").as("d1"), col("hs").as("hs1"),
        col("n").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("hs").as("hs2"),
        col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("n1"), col("n2"),
        call_function(graft.expr.VectorExprs.intersectName,
          col("hs1"), col("hs2")).as("i"))
      .filter(col("i") * tDen >= (col("n1") + col("n2") - col("i")) * tNum)
      .select(col("d1"), col("d2"),
        expr("i * 1000 div (n1 + n2 - i)").as("j_pm"))
      .orderBy("d1", "d2")
  }

  def dedupCharJaccard(spark: SparkSession, dir: String): DataFrame =
    charJaccard(Tables.documents(spark, dir))

  val dedupCharJaccardSql: String =
    """WITH g AS (
      |  SELECT DISTINCT doc_id, lang,
      |    substr(text, CAST(i + 1 AS INTEGER), 4) AS g
      |  FROM documents,
      |    unnest(range(0, GREATEST(length(text) - 3, 0))) u(i)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      |  FROM g a JOIN g b
      |    ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2,
      |  CAST(i * 1000 // (s1.n + s2.n - i) AS BIGINT) AS j_pm
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = d1
      |JOIN sizes s2 ON s2.doc_id = d2
      |WHERE i * 5 >= (s1.n + s2.n - i) * 4
      |ORDER BY d1, d2""".stripMargin

  // --------------------------------------------- dedup_cluster_medoid
  /** STRUCTURAL REPRESENTATIVE per near-dup cluster — the medoid a
    * dedup pass keeps when there is no quality score to break ties
    * ([[dedupKeepBest]] picks by quality; this picks the doc most
    * connected INSIDE its cluster, the copy most central to the
    * duplicate family and hence least likely to be a truncated or
    * corrupted variant). Rides the memoized pair set and component
    * labels ([[pairs09]]/[[labels09]]) — zero new corpus passes: one
    * |edges| degree agg, one |docs| join, one per-component top-1
    * (window over cluster-sized partitions). Integer degree with
    * doc_id tie-break keeps the pick oracle-exact. */
  def dedupClusterMedoid(spark: SparkSession, dir: String): DataFrame = {
    val pairs = pairs09(spark, dir).select(col("d1"), col("d2"))
    val edges = pairs.unionByName(
      pairs.select(col("d2").as("d1"), col("d1").as("d2")))
    val deg = edges.groupBy(col("d1").as("doc_id"))
      .agg(count(lit(1)).as("d"))
    val scored = labels09(spark, dir)
      .join(deg, Seq("doc_id"), "left")
      .select(col("lbl").as("component"), col("doc_id"),
        coalesce(col("d"), lit(0L)).as("d"))
    val sz = scored.groupBy("component").agg(count(lit(1)).as("n_docs"))
    scored.join(sz, "component")
      .filter(col("n_docs") >= 2)
      .withColumn("_rk", row_number().over(
        Window.partitionBy("component").orderBy(desc("d"), col("doc_id"))))
      .filter(col("_rk") === 1)
      .select(col("component"), col("n_docs"),
        col("doc_id").as("medoid"), col("d").cast("long").as("degree"))
      .orderBy("component")
  }

  val dedupClusterMedoidSql: String =
    s"""$componentLabelsCte,
       |deg AS (SELECT d1 AS doc_id, COUNT(*) AS d FROM edges GROUP BY d1),
       |scored AS (
       |  SELECT l.lbl AS component, l.id AS doc_id,
       |    COALESCE(deg.d, 0) AS d
       |  FROM labels l LEFT JOIN deg ON deg.doc_id = l.id),
       |sz AS (SELECT component, COUNT(*) AS n_docs
       |       FROM scored GROUP BY component)
       |SELECT s.component, sz.n_docs, s.doc_id AS medoid,
       |  CAST(s.d AS BIGINT) AS degree
       |FROM scored s JOIN sz USING (component)
       |WHERE sz.n_docs >= 2
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY s.component
       |  ORDER BY s.d DESC, s.doc_id) = 1
       |ORDER BY component""".stripMargin

  // ------------------------------------------------ dedup_shard_audit
  /** SHARD-PLAN AUDIT for exact dedup — the design question a 100 TB
    * dedup answers FIRST: which sharding makes shard-local dedup
    * equal global dedup? Four plans over the same fingerprint frame:
    * `global` (the reference answer), `by_content` (shard =
    * hash(fingerprint) — all copies co-locate, so shard-local dedup
    * is LOSSLESS and embarrassingly parallel with zero cross-shard
    * traffic), `by_source` and `by_round_robin` (operationally
    * convenient, but cross-shard copies survive). Each plan's row
    * reports what it removed and what it MISSED vs global, in
    * per-mille of the global duplicate mass. One corpus fingerprint
    * pass, then |plans|-way counting — the audit costs one shuffle
    * regardless of corpus size. */
  def dedupShardAudit(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(lower(col("text"))).as("fp"))
    val plans = fp.select(explode(array(
      struct(lit("1_global").as("plan"), lit("0").as("shard"),
        col("fp")),
      struct(lit("2_by_content").as("plan"),
        pmod(graft.mask.MaskFunctions.portableHash(col("fp")), lit(8L))
          .cast("string").as("shard"), col("fp")),
      struct(lit("3_by_source").as("plan"), col("source").as("shard"),
        col("fp")),
      struct(lit("4_by_round_robin").as("plan"),
        pmod(col("doc_id"), lit(8L)).cast("string").as("shard"),
        col("fp")))).as("m"))
      .select(col("m.plan").as("plan"), col("m.shard").as("shard"),
        col("m.fp").as("fp"))
    val agg = plans.groupBy("plan")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("shard"), col("fp")).as("n_kept"))
      .withColumn("n_removed", col("n_docs") - col("n_kept"))
      .cut // 4-row frame, 2 consumers
    val g = agg.filter(col("plan") === "1_global")
      .select(col("n_removed").as("g_removed"))
    agg.crossJoin(broadcast(g))
      .select(col("plan"), col("n_docs"), col("n_kept"),
        col("n_removed"),
        (col("g_removed") - col("n_removed")).as("n_missed"),
        when(col("g_removed") > 0,
          expr("(g_removed - n_removed) * 1000 div g_removed"))
          .otherwise(0L).as("loss_pm"))
      .reportSort("plan")
  }

  val dedupShardAuditSql: String =
    """WITH fp AS (
      |  SELECT doc_id, source, md5(lower(text)) AS fp
      |  FROM documents),
      |plans AS (
      |  SELECT '1_global' AS plan, '0' AS shard, fp FROM fp
      |  UNION ALL SELECT '2_by_content',
      |    CAST(('0x'||substr(md5(fp),1,8))::BIGINT % 8 AS VARCHAR), fp
      |  FROM fp
      |  UNION ALL SELECT '3_by_source', source, fp FROM fp
      |  UNION ALL SELECT '4_by_round_robin',
      |    CAST(doc_id % 8 AS VARCHAR), fp FROM fp),
      |agg AS (
      |  SELECT plan, COUNT(*) AS n_docs,
      |    COUNT(DISTINCT shard || '|' || fp) AS n_kept
      |  FROM plans GROUP BY 1),
      |a2 AS (
      |  SELECT plan, n_docs, n_kept, n_docs - n_kept AS n_removed
      |  FROM agg),
      |g AS (
      |  SELECT n_removed AS g_removed FROM a2 WHERE plan = '1_global')
      |SELECT plan, n_docs, CAST(n_kept AS BIGINT) AS n_kept,
      |  CAST(n_removed AS BIGINT) AS n_removed,
      |  CAST(g_removed - n_removed AS BIGINT) AS n_missed,
      |  CAST(CASE WHEN g_removed > 0
      |    THEN (g_removed - n_removed) * 1000 // g_removed
      |    ELSE 0 END AS BIGINT) AS loss_pm
      |FROM a2 CROSS JOIN g ORDER BY plan""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_shard_audit" -> (dedupShardAudit _),
    "dedup_char_jaccard" -> (dedupCharJaccard _),
    "dedup_cluster_medoid" -> (dedupClusterMedoid _),
    "dedup_lsh_sweep" ->
      ((s: SparkSession, d: String) => dedupLshSweep(s, d)),
    "dedup_winnow_pairs" -> (dedupWinnowPairs _),
    "dedup_edit_distance" -> (dedupEditDistance _),
    "dedup_bloom" -> (dedupBloom _),
    "dedup_lines" -> (dedupLines _),
    "dedup_cluster_stats" -> (dedupClusterStats _),
    "dedup_recall_audit" -> (dedupRecallAudit _),
    "dedup_span_fraction" -> (dedupSpan _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_chunks" -> (dedupChunks _),
    "dedup_components" -> (dedupComponents _),
    "dedup_components_star" -> (dedupComponentsStar _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_emb_sweep" -> (dedupEmbSweep _),
    "dedup_apply" -> (dedupApply _),
    "dedup_exact" -> (dedupExact _),
    "dedup_normalized" -> (dedupNormalized _),
    "dedup_template" -> (dedupTemplate _),
    "dedup_ngram_jaccard" -> (dedupNgram _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_minhash_lsh" -> (dedupMinhash _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding" -> (dedupEmbedding _),
    "dedup_semdedup" -> (dedupSemdedup _))

  /** Every dedup operator is oracle-verified: the LSH family hashes
    * with portable md5-prefix mixes the oracle engine reproduces
    * bit-for-bit (see tokHash / MinHashBands). */
  val oracles: Map[String, String] = Map(
    "dedup_shard_audit" -> dedupShardAuditSql,
    "dedup_char_jaccard" -> dedupCharJaccardSql,
    "dedup_cluster_medoid" -> dedupClusterMedoidSql,
    "dedup_lsh_sweep" -> dedupLshSweepSql,
    "dedup_winnow_pairs" -> dedupWinnowPairsSql,
    "dedup_edit_distance" -> dedupEditDistanceSql,
    "dedup_bloom" -> dedupBloomSql,
    "dedup_lines" -> dedupLinesSql,
    "dedup_cluster_stats" -> dedupClusterStatsSql,
    "dedup_recall_audit" -> dedupRecallAuditSql,
    "dedup_span_fraction" -> dedupSpanSql,
    "dedup_substring" -> dedupSubstringSql,
    "dedup_chunks" -> dedupChunksSql,
    "dedup_components" -> dedupComponentsSql,
    "dedup_components_star" -> dedupComponentsSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_emb_sweep" -> dedupEmbSweepSql,
    "dedup_apply" -> dedupApplySql,
    "dedup_exact" -> dedupExactSql,
    "dedup_normalized" -> dedupNormalizedSql,
    "dedup_template" -> dedupTemplateSql,
    "dedup_ngram_jaccard" -> dedupNgramSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_minhash_lsh" -> dedupMinhashSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_semdedup" -> dedupSemdedupSql)
}
