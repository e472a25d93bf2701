package graft.queries

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import QueryDef.dsum
import graft.functions.VectorFunctions
import graft.ops.{Concurrently, GraphAlgos}

/** Training-data-pipeline operators (north-star extensions): deduplication
  * (exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding near-dup),
  * similarity search (brute-force + IVF), text analysis (lang-ID, quality,
  * token counting, fingerprinting), and multimodal metadata plumbing.
  *
  * Dedup/near-dup queries run over the documents (or embeddings) table
  * unioned with an id-shifted clone of itself, so every dedup path has
  * guaranteed positive pairs to find at any scale factor.
  *
  * Portability notes: the only hash primitive used is md5 (identical hex in
  * Spark and DuckDB); MinHash takes the lexicographic min of fixed-width hex
  * strings, which equals the numeric min.
  */
object PipelineQueries {

  /** The micro-batch a stream gate stages an `events` row in: its 8-day
    * window since 2024-01-01, clamped to batches 0..3. */
  private def eventBatch: Column = expr(
    "CAST(least(greatest(CAST(datediff(to_date(ts), DATE '2024-01-01') div 8 AS INT), 0), 3) AS INT)")

  /** documents ∪ id-shifted clone — the near-dup test corpus. */
  private def docCorpus(s: SparkSession, d: String): DataFrame = {
    val doc = documents(s, d)
    doc.unionByName(doc.select(
      (col("doc_id") + 10000).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars")))
  }

  private val corpusSql =
    """corpus AS (SELECT doc_id, text, lang, source, n_chars FROM documents
      |UNION ALL SELECT doc_id + 10000 AS doc_id, text, lang, source, n_chars FROM documents)""".stripMargin

  /** Delegates to the public ops API (graft.ops.TextDedup) so the oracle
    * gate exercises the same code a library user calls. */
  private def tokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.ops.TextDedup.tokens(c)

  private val tokensSql = "string_split_regex(trim(lower(text)), '\\s+')"

  // Word 3-gram shingles come from the fused codegen expression
  // graft.ops.TextDedup.shingles (WordShingles) — the SQL-lambda form it
  // replaced lives on in TextDedup.shinglesExpr for twin readability.

  /** DuckDB twin (1-based; range end-exclusive): same shingle count/order. */
  private val shinglesSql =
    "list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])"

  /** (doc_id, seed, mh) MinHash signatures via explode + hash-aggregate min.
    * NB: an all-per-row formulation (nested transform/array_min lambdas) is
    * 70× slower — higher-order functions are CodegenFallback (interpreted);
    * explode + codegen'd md5 + partial-agg min is the fast shape, and the
    * map-side partial min means the shuffle carries ≤ |docs|×8 rows. */
  private def minhashSig(corpus: DataFrame): DataFrame =
    graft.ops.TextDedup.minhashSignatures(corpus)

  /** Signatures folded to one 8-element array per doc, in seed order. */
  private def minhashSigArr(corpus: DataFrame): DataFrame =
    graft.ops.TextDedup.minhashSignatureArrays(corpus)

  private def minhashSigSql(src: String): String =
    s"""toks AS (SELECT doc_id, $tokensSql AS tk FROM $src),
       |shx AS (SELECT doc_id, unnest($shinglesSql) AS sh FROM toks WHERE len(tk) >= 3),
       |sx AS (SELECT doc_id, seed, sh FROM shx, (SELECT unnest(range(0, 8)) AS seed) seeds),
       |sig AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || sh)) AS mh FROM sx GROUP BY doc_id, seed)""".stripMargin

  /** Document-frequency cap for x05's inverted index: shingles in more
    * docs than this are dropped from index AND universe (exact Jaccard over
    * discriminative shingles). Prevents the quadratic stopword-shingle pair
    * blow-up at scale; every near-dup pair (j ≥ 0.8) shares many shingles,
    * so removing ubiquitous ones barely moves its capped Jaccard. */
  private val hotShingleMaxDf = 100L

  /** The ONE parameterization of [[graft.ops.TextDedup.lshPairs]] shared by
    * the x18 producer and the x25 consumer. The cache key embeds EVERY
    * parameter (not just minMatch): a future change to either call site
    * that drifted from the other must miss the cache and recompute, never
    * silently serve a pair set built under different settings. */
  private val lshSeeds = 8
  private val lshRowsPerBand = 2
  private val lshMinMatch = 6
  private val lshReliable = false
  private def lshPairsKey(s: SparkSession, d: String): String =
    SharedCache.key(s, d,
      s"lsh_pairs:seeds=$lshSeeds:rowsPerBand=$lshRowsPerBand" +
        s":minMatch=$lshMinMatch:reliable=$lshReliable")
  private def lshPairsBuild(corpus: DataFrame): DataFrame =
    graft.ops.TextDedup.lshPairs(corpus, seeds = lshSeeds,
      rowsPerBand = lshRowsPerBand, minMatch = lshMinMatch, reliable = lshReliable)

  /** The session-shared LSH pair frame, DURABLY materialized through
    * [[graft.ops.DerivedStore]]: within a session every consumer
    * (x18/x25/x38/x71/x75/x79/x81/x87) reads the SharedCache entry; a cold
    * consumer — a fresh session, or Bench's cache-clearing `cold_rerun` —
    * reads the bucketed store instead of re-running shingle→band→verify.
    * The store name embeds every derivation parameter plus a manual
    * version tag (`v1`) that MUST be bumped when the docCorpus or
    * TextDedup.lshPairs code changes semantics; the documents.parquet
    * fingerprint (length+mtime) invalidates on fixture regeneration. */
  private def lshPairsShared(s: SparkSession, d: String, corpus: => DataFrame): DataFrame =
    SharedCache.getOrCompute(lshPairsKey(s, d)) {
      graft.ops.DerivedStore.getOrBuild(s,
        name = ("lsh_pairs_v1_s" + lshSeeds + "_r" + lshRowsPerBand +
          "_m" + lshMinMatch + "_" + d.replaceAll("[^A-Za-z0-9]", "_")).toLowerCase,
        inputFiles = Seq(s"$d/documents.parquet"),
        bucketCols = Seq("a_id"))(lshPairsBuild(corpus))
        // pin the (small) pair frame in block storage before publishing:
        // the store hands back a TABLE SCAN, and the iterative consumers
        // (x18's label propagation reads pairs EVERY pass; x71/x75/x81
        // join it several times) must read one in-memory materialization,
        // not re-scan parquet per pass — measured 19 s vs 4 s on x18.
        .localCheckpoint(eager = true)
    }

  /** Inline PQ codeword argmin (round 12, shared by x206/x210). `cb` is
    * ≤ m·kpq = 128 rows of model state ((sb, cw, cvec)) — the coarse
    * quantizer's driver-held posture — so collect it and unroll the argmin
    * over codewords into ONE narrow codegen projection over rows carrying
    * (sb, sub, sub2): per codeword dv = |s|²+|c|²−2s·c against
    * element_at(<2-D literal>, sb+1), then array_min over the ≤16 packed
    * dv·16+cw BIGINTs (exact: cw < 16, dv ≤ 8·508²; equal dv → lowest cw,
    * the min(struct(dv, cw)) order). A (sb, cw) the book lacks scores
    * NULL, which array_min skips — exactly the rows a broadcast-join
    * fan-out would never produce. Replaces the |rows|×kpq join fan-out +
    * packed-min re-aggregation with zero shuffle; every dv and chosen cw
    * is integer-identical to the joined form. */
  private[queries] def pqArgminCode(cb: DataFrame): org.apache.spark.sql.Column =
    pqArgminRows(collectPqCb(cb))

  /** One driver collect of a codebook frame ((sb, cw, cvec), ≤ m·kpq = 128
    * rows of model state). Round 13: callers that consume the book both as
    * the argmin unroll AND as a (broadcast) frame collect it ONCE and
    * rebuild the tiny frame locally — the former eager localCheckpoint of
    * the book was a whole extra materialization job per gate run. */
  private[queries] def collectPqCb(cb: DataFrame): Array[(Long, Long, Seq[Long])] =
    cb.select(col("sb").cast(LongType), col("cw").cast(LongType), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))

  private[queries] def pqArgminRows(
      rows: Array[(Long, Long, Seq[Long])]): org.apache.spark.sql.Column = {
    // fail fast on the impossible-by-construction case (ADVICE round 12):
    // a subspace with NO surviving codeword would silently emit NULL codes
    // where the former join form dropped the row
    require((0L until 8L).forall(sb => rows.exists(_._1 == sb)),
      s"PQ codebook lost a whole subspace: have sb=${rows.map(_._1).distinct.sorted.mkString(",")}")
    val packed: Seq[org.apache.spark.sql.Column] = (0L until 16L).map { cw =>
      val bySb = rows.filter(_._2 == cw).map(t => t._1 -> t._3).toMap
      val cvecs: Seq[Seq[Long]] = (0L until 8L).map(sb => bySb.get(sb).orNull)
      val cvec = element_at(typedLit(cvecs), (col("sb") + 1).cast("int"))
      // |c|² is a constant per (cw, sb): precomputed on the driver instead
      // of a second per-row dot loop (a dropped (sb, cw) stays NULL, which
      // nulls the whole packed term exactly like the former intDot(cvec,
      // cvec) on a NULL cvec — array_min skips it)
      val c2s: Seq[Seq[Long]] =
        (0L until 8L).map(sb => bySb.get(sb).map(v => Seq(v.map(x => x * x).sum)).orNull)
      val c2 = element_at(element_at(typedLit(c2s), (col("sb") + 1).cast("int")), 1)
      (col("sub2") + c2 -
        lit(2L) * graft.functions.IntDotProduct.intDot(col("sub"), cvec)) *
        lit(16L) + lit(cw)
    }
    array_min(array(packed: _*)) % 16L
  }

  /** The session-shared maximal-repeat span frame (doc_id, source, start,
    * len; k = 25 whitespace tokens; 0-based starts), following the LSH-pair
    * discipline end to end: x197 reports it, x201 scrubs with it, and the
    * incremental index gate derives from the same corpus — at 100 TB the
    * anchor-hash pass over the corpus is the dominant cost of the family
    * and must run ONCE per session, not once per consumer. Durable through
    * [[graft.ops.DerivedStore]] (bucketed by doc_id — every consumer joins
    * or re-groups on it), fingerprinted on documents.parquet; v2 = the
    * interval-union island rule (anchors merge while the gap < k), bump on
    * any semantic change to ops/MaximalRepeats. */
  private val maxRepK = 25
  private def maxRepSpansShared(s: SparkSession, d: String): DataFrame =
    SharedCache.getOrCompute(SharedCache.key(s, d, s"maxrep_spans:k=$maxRepK")) {
      graft.ops.DerivedStore.getOrBuild(s,
        name = s"maxrep_spans_v2_k${maxRepK}_" + dirSlug(d),
        inputFiles = Seq(s"$d/documents.parquet"),
        bucketCols = Seq("doc_id")) {
        graft.ops.MaximalRepeats.spans(
          documents(s, d).select("doc_id", "source", "text"), maxRepK)
      }
        // small frame (the duplicated fraction): pin it so x197's rollup
        // and x201's per-doc join both read one materialization
        .localCheckpoint(eager = true)
    }

  /** The session-shared ANCHOR-HASH INDEX of the document corpus
    * (doc_id, source, pos, h; k = 25) — the pure function of the corpus
    * an incremental span dedup stores so today's batch never re-anchors
    * yesterday's data (x47's new-vs-index discipline, span modality).
    * Bucketed by `h`: the batch side semi-joins 8-byte keys against
    * pre-hashed buckets. Corpus-sized, so deliberately NOT pinned with a
    * localCheckpoint — consumers read the bucketed store scan. */
  private def maxRepAnchorIndex(s: SparkSession, d: String): DataFrame =
    SharedCache.getOrCompute(
      SharedCache.key(s, d, s"maxrep_anchor_index:k=$maxRepK")) {
      graft.ops.DerivedStore.getOrBuild(s,
        name = s"maxrep_anchor_idx_v1_k${maxRepK}_" + dirSlug(d),
        inputFiles = Seq(s"$d/documents.parquet"),
        bucketCols = Seq("h")) {
        graft.ops.MaximalRepeats.anchors(
          documents(s, d).select("doc_id", "source", "text"), maxRepK)
      }
    }

  /** Session-shared per-(lang, source) aggregate STATE of the documents
    * corpus — the materialized view x220's incremental maintenance pass
    * combines with a delta batch, never rescanning the base. Commutative
    * + invertible measures only (count / sum / id-sum), so deletes
    * subtract and inserts add. Metadata-sized (langs × sources rows),
    * durable via [[graft.ops.DerivedStore]] (bucketed on the group key),
    * fingerprinted on documents.parquet; v1 — bump on any change to the
    * measure set. Pinned with localCheckpoint: consumers must read one
    * in-memory materialization, the plan-shape proof that the combine
    * never touches base parquet. */
  private def docAggState(s: SparkSession, d: String): DataFrame =
    SharedCache.getOrCompute(SharedCache.key(s, d, "doc_agg_state:v1")) {
      graft.ops.DerivedStore.getOrBuild(s,
        name = "doc_agg_state_v1_" + dirSlug(d),
        inputFiles = Seq(s"$d/documents.parquet"),
        bucketCols = Seq("lang", "source")) {
        documents(s, d).groupBy("lang", "source")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars").cast(LongType)).as("chars"),
            sum(col("doc_id")).as("idsum"))
      }.localCheckpoint(eager = true)
    }

  /** The x152 stream-stream inner-join transform (event-time range join
    * with interval bucketing), shared with the x213 provider matrix so
    * both gates run LITERALLY the same plan — the matrix isolates the
    * state-store provider as the only variable. */
  private def streamInnerJoin(stream: DataFrame): DataFrame = {
    val left = stream.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "40 days")
      // interval bucketing, q22's lesson applied to streaming
      // ([[graft.ops.BucketedRangeJoin]] documents the multiset
      // argument): the join-state probe iterates EVERY buffered row
      // sharing the equi-key, so a low-cardinality user key + range
      // predicate is O(per-user history) per arriving row (measured
      // 28x on a 10x step at 100x). Adding the 4h bucket to the key
      // bounds each probe to one bucket's rows.
      .withColumn("s_bkt",
        graft.ops.BucketedRangeJoin.bucketOf(col("s_ts"), 14400000000L))
    val right = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "40 days")
      // a purchase can match signups in its own or the previous 4h
      // bucket (it probes BACKWARD into the signup's forward range) —
      // duplicate it into both candidate keys
      .withColumn("cand",
        graft.ops.BucketedRangeJoin.candidateBuckets(col("p_ts"), 14400000000L, dir = -1))
    left.join(right,
        col("user_id") === col("p_user") &&
          col("s_bkt") === col("cand") &&
          col("p_ts") > col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 4 HOURS"))
      .select(col("user_id"), col("s_id"), col("p_id"),
        unix_micros(col("s_ts")).as("s_us"),
        unix_micros(col("p_ts")).as("p_us"))
  }

  /** Session-shared frames of the customer–supplier co-trade graph
    * (x114 item-item CF and x115 clustering coefficients): the capped
    * bipartite edge list and the strong co-trade pair list. Keys embed the
    * parameters so a drift between call sites misses the cache instead of
    * silently serving mismatched frames (the lshPairs discipline). Both
    * builders checkpoint — every consumer reads one materialization of the
    * corpus join.
    *
    * Sparsification is kNN — each supplier keeps its 10 strongest co-trade
    * partners (co desc, partner-id tie-break), an edge survives if EITHER
    * endpoint keeps it — the standard item-item CF graph construction.
    * An absolute co-cutoff densifies with scale (at 10× customers every
    * supplier pair clears any constant, the graph completes, and x115's
    * triangle stage goes cubic on an artifact — measured 9.4 s at 10×);
    * a mean-relative cutoff fails the other way on small fixtures whose co
    * is uniform (all-or-nothing). kNN bounds edges at 10·|suppliers| at
    * EVERY scale by construction. */
  private val cfCap = 30
  private val cfK = 10

  /** The UNCAPPED distinct customer–supplier interaction edges — the one
    * fact-sized derivation (orderkey equi-join + distinct) under the whole
    * trade-graph family, materialized ONCE per session: x108 profiles it
    * directly, [[cfCappedEdges]] filters it, and through that x114/x115/
    * x122/x123 all descend from this single checkpoint. Bench re-times
    * shared-frame consumers cold (`cold_rerun`), so the build cost stays
    * honestly visible. */
  /** Sanitized store-name suffix for [[graft.ops.DerivedStore]] names. */
  private def dirSlug(d: String): String =
    d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase

  private def custSuppEdges(s: SparkSession, d: String): DataFrame =
    SharedCache.getOrCompute(SharedCache.key(s, d, "cust_supp_edges")) {
      // durable like the LSH pair frame: the orderkey join + distinct is
      // paid once per fixture; fresh sessions and cache-cleared cold
      // re-runs read the bucketed store (pinned once per session — the
      // degree aggs and CF family read it repeatedly)
      graft.ops.DerivedStore.getOrBuild(s,
        name = "cust_supp_edges_v1_" + dirSlug(d),
        inputFiles = Seq(s"$d/orders.parquet", s"$d/lineitem.parquet"),
        bucketCols = Seq("c")) {
        orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
          .distinct()
      }.localCheckpoint(eager = true)
    }

  private def cfCappedEdges(s: SparkSession, d: String): DataFrame =
    SharedCache.getOrCompute(SharedCache.key(s, d, s"cf_capped_edges:cap=$cfCap")) {
      custSuppEdges(s, d)
        .withColumn("cdeg", count(lit(1)).over(Window.partitionBy("c")))
        .filter(col("cdeg") <= cfCap)
        .select("c", "sp")
        .localCheckpoint(true)
    }
  private def cfCoPairs(s: SparkSession, d: String): DataFrame =
    SharedCache.getOrCompute(
      SharedCache.key(s, d, s"cf_co_pairs:cap=$cfCap:knn=$cfK")) {
      val capped = cfCappedEdges(s, d)
      val counts = capped.as("a")
        .join(capped.as("b"),
          col("a.c") === col("b.c") && col("a.sp") < col("b.sp"))
        .groupBy(col("a.sp").as("s1"), col("b.sp").as("s2"))
        .agg(count(lit(1)).as("co"))
        .localCheckpoint(true) // both symmetrized halves read one frame
      val sym = counts.select(col("s1").as("u"), col("s2").as("v"), col("co"))
        .unionAll(counts.select(col("s2").as("u"), col("s1").as("v"), col("co")))
      sym
        .withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy(col("co").desc, col("v"))))
        .filter(col("rn") <= cfK)
        .select(least(col("u"), col("v")).as("s1"),
          greatest(col("u"), col("v")).as("s2"), col("co"))
        .distinct()
        .localCheckpoint(true)
    }

  /** Embeddings ∪ id-shifted clone. */
  private def embCorpus(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select("vec_id", "embedding")
    e.unionByName(e.select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
  }

  /** Session-shared, store-backed IVF assignment frame (vec_id, cent_id,
    * embedding): corpus × pseudo-sampled centroids (vec_id % modulus = rem),
    * nearest by cosine with lowest-cent_id tie-break. The corpus×centroids
    * cross join is the dominant cost of the vector family (x07's cluster-
    * local top-k and x45's within-cluster pair stage both start from it)
    * and is a pure function of the embeddings fixture — so it follows the
    * LSH-pair discipline: computed once per session, durably materialized
    * bucketed by cent_id (the downstream join key), fingerprinted on
    * embeddings.parquet. v1: bump when assignment semantics change. */
  private def ivfAssignedShared(s: SparkSession, d: String, tag: String,
      modulus: Int, rem: Int, corpus: => DataFrame): DataFrame =
    SharedCache.getOrCompute(SharedCache.key(s, d, s"ivf_assign:$tag:m$modulus:r$rem")) {
      graft.ops.DerivedStore.getOrBuild(s,
        name = s"ivf_assign_v2_${tag}_m${modulus}_r${rem}_" + dirSlug(d),
        inputFiles = Seq(s"$d/embeddings.parquet"),
        bucketCols = Seq("cent_id")) {
        val fine = corpus.filter(col("vec_id") % modulus === rem)
          .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
        // TWO-LEVEL coarse→fine assignment (graft.ops.KMeansLite
        // .assignTwoLevel): the centroid count here grows with the corpus
        // (constant ~modulus occupancy), so single-level scoring was the
        // catalog's one n² build term (111–184 s at the 100× decade).
        // Coarse = every m-th fine centroid with m = ⌊√k⌋, giving
        // n·(k/m + m) ≈ n·2√k work. k is model-state cardinality — the
        // driver-side count is a scalar of the centroid frame, not data.
        // Both argmax stages tie-break to the lowest id, and the oracle
        // twins (x07/x45) mirror the same two stages CTE for CTE. v2:
        // assignment semantics changed from exact to within-coarse-cell.
        val k = fine.count()
        val m = math.max(1L, math.sqrt(k.toDouble).toLong)
        val coarse = fine.filter(((col("cent_id") - rem) % (modulus * m)) === 0)
        graft.ops.KMeansLite.assignTwoLevel(corpus, fine, coarse)
          .select(col("vec_id"), col("cent_id"), col("embedding"))
      }.localCheckpoint(eager = true)
    }

  /** Sign-LSH bucket key over the first 16 dimensions. WIDTH IS A COST
    * KNOB, not a tuning nicety: with b bits the bucket-local pair stage
    * costs ~n²/2^b, so a fixed-width bucket eventually goes quadratic —
    * measured at the 100× decade point (8 bits, 400k vectors → 1.5k
    * occupancy → 17.8× the 10× cost). 16 bits holds occupancy ≤ ~10² out
    * past 10⁷ vectors; identical near-dups (the fixture's true pairs)
    * share every sign, and the recall trade on borderline-0.99 pairs is
    * the documented sign-LSH semantic (both engines compute the same
    * bucket, so the gate moves with the knob). At deployment the width
    * scales as ~log2(n / target_occupancy). */
  private def signBucket(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.ops.TextDedup.signBucket(emb, 16)

  private val signBucketSql: String =
    (1 to 16).map(i => s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  /** Shared oracle CTE chain for x18, x25, AND x38: connected components
    * over the LSH pair set via a recursive CTE, canonicalized to the min
    * doc_id per component (`cmap`) — the engine-differential check for the
    * DataFrame label-propagation path (x18), the GraphX Pregel path (x25),
    * and the near-dup-aware curation composition (x38). */
  private val dedupComponentsCtes =
    s"""WITH RECURSIVE $corpusSql,
       |${minhashSigSql("corpus")},
       |band AS (SELECT doc_id, CAST(floor(seed / 2) AS BIGINT) AS band,
       |  min(mh) || '|' || max(mh) AS bsig FROM sig GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
       |  JOIN band b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |pm AS (SELECT c.a_id, c.b_id, count(CASE WHEN sa.mh = sb.mh THEN 1 END) AS n_match
       |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
       |  JOIN sig sb ON sb.doc_id = c.b_id AND sb.seed = sa.seed
       |  GROUP BY 1, 2),
       |pairs AS (SELECT a_id, b_id FROM pm WHERE n_match >= 6),
       |adj AS (SELECT a_id AS s, b_id AS t FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(id, rid) AS (
       |  SELECT doc_id, doc_id FROM corpus
       |  UNION
       |  SELECT adj.s, reach.rid FROM adj JOIN reach ON adj.t = reach.id),
       |cmap AS (SELECT id AS doc_id, min(rid) AS canonical_id FROM reach GROUP BY id)""".stripMargin

  private val dedupComponentsSql =
    s"""$dedupComponentsCtes
       |SELECT doc_id, canonical_id FROM cmap
       |ORDER BY doc_id""".stripMargin

  /** DuckDB: value of the 8 lowercase-hex chars in column `hx` as a BIGINT
    * in [0, 2^32) — the dialect twin of Spark's `conv(hx, 16, 10)`. */
  private val hex8D: String =
    (0 until 8).map(k =>
      s"(instr('0123456789abcdef', substr(hx, ${k + 1}, 1)) - 1) * ${1L << (4 * (7 - k))}")
      .mkString("(", " + ", ")")

  // ——— x27 helpers: dialect-paired hex builders so BOTH engines construct
  //     byte-identical media blobs from the same per-row parameters, and
  //     DuckDB can parse header fields back out of the byte encoding ———

  /** One byte as two uppercase hex chars (Spark SQL dialect). */
  private def hbS(e: String) =
    "concat(substring('0123456789ABCDEF', CAST(((" + e + ") div 16) % 16 + 1 AS INT), 1)," +
      s" substring('0123456789ABCDEF', CAST(($e) % 16 + 1 AS INT), 1))"
  private def le16S(e: String) =
    s"concat(${hbS(s"($e) % 256")}, ${hbS(s"(($e) div 256) % 256")})"
  private def le32S(e: String) =
    s"concat(${hbS(s"($e) % 256")}, ${hbS(s"(($e) div 256) % 256")}, " +
      s"${hbS(s"(($e) div 65536) % 256")}, ${hbS(s"(($e) div 16777216) % 256")})"

  /** Same three builders, DuckDB dialect. */
  private def hbD(e: String) =
    s"(substr('0123456789ABCDEF', ((($e) // 16) % 16 + 1)::INT, 1) || " +
      s"substr('0123456789ABCDEF', ((($e) % 16 + 1))::INT, 1))"
  private def le16D(e: String) =
    s"(${hbD(s"($e) % 256")} || ${hbD(s"(($e) // 256) % 256")})"
  private def le32D(e: String) =
    s"(${hbD(s"($e) % 256")} || ${hbD(s"(($e) // 256) % 256")} || " +
      s"${hbD(s"(($e) // 65536) % 256")} || ${hbD(s"(($e) // 16777216) % 256")})"

  /** DuckDB: byte value at 0-based offset `i` of hex string `hx`. */
  private def byteAtD(i: Int) =
    s"((instr('0123456789ABCDEF', substr(hx, ${2 * i + 1}, 1)) - 1) * 16 + " +
      s"instr('0123456789ABCDEF', substr(hx, ${2 * i + 2}, 1)) - 1)"

  /** DuckDB: little-endian integer spanning `n` bytes at offset `off`. */
  private def leFieldD(off: Int, n: Int): String =
    (0 until n).map(j => s"${byteAtD(off + j)} * ${1L << (8 * j)}").mkString("(", " + ", ")")

  // ——— x36 helpers: big-endian variants (PNG stores ints big-endian) ———

  private def be32S(e: String) =
    s"concat(${hbS(s"(($e) div 16777216) % 256")}, ${hbS(s"(($e) div 65536) % 256")}, " +
      s"${hbS(s"(($e) div 256) % 256")}, ${hbS(s"($e) % 256")})"
  private def be32D(e: String) =
    s"(${hbD(s"(($e) // 16777216) % 256")} || ${hbD(s"(($e) // 65536) % 256")} || " +
      s"${hbD(s"(($e) // 256) % 256")} || ${hbD(s"($e) % 256")})"

  /** DuckDB: big-endian integer spanning `n` bytes at offset `off`. */
  private def beFieldD(off: Int, n: Int): String =
    (0 until n).map(j => s"${byteAtD(off + j)} * ${1L << (8 * (n - 1 - j))}")
      .mkString("(", " + ", ")")

  // ——— x46 helpers: 16-bit big-endian builders (JPEG header fields) ———

  private def be16S(e: String) =
    s"concat(${hbS(s"(($e) div 256) % 256")}, ${hbS(s"($e) % 256")})"
  private def be16D(e: String) =
    s"(${hbD(s"(($e) // 256) % 256")} || ${hbD(s"($e) % 256")})"

  // ——— x105 helper: one complete ustar member (512-byte header + one
  //     512-padded data block) as a Spark-dialect hex expression over
  //     `doc_id`. The header checksum is ENCODED from the closed-form byte
  //     sum of every field below (3434 = the constant fields: 'm' 109,
  //     six '0'-padded name digits 288, mode "0000644\0" 350, uid/gid
  //     2×336, size-field zeros 528, mtime zeros 528, chksum-as-spaces
  //     256, typeflag '0' 48, magic "ustar\0" 559, version "00" 96),
  //     which graft.ops.TarIndex independently recomputes from the bytes.
  //     Member i of shards 3 and 8 (doc_id % 5 = 3, i = 1) stores
  //     checksum+1 → the decoder must flag it and keep walking. ———
  private def tarMemberHexS(i: Int): String = {
    val n = s"(doc_id * 3 + $i)"
    val sz = s"(1 + (doc_id * 7 + $i * 13) % 511)"
    val ext = Seq(".txt", ".jpg", ".cls")(i)
    val extSum = Seq(398, 367, 368)(i) // ASCII sums of the extensions
    val nm = s"concat('m', lpad(CAST($n AS STRING), 6, '0'), '$ext')"
    val ds = (0 to 5).map(k => s"(($n div ${"1" + "0" * k}) % 10)")
      .mkString("(", " + ", ")")
    val osum = s"(($sz div 64) + (($sz div 8) % 8) + ($sz % 8))"
    val corrupt = if (i == 1) "(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END)" else "0"
    val cs = s"(3434 + $ds + $extSum + $osum + $corrupt)"
    val sizeHex = s"repeat('30', 8), ${hbS(s"48 + ($sz div 64)")}, " +
      s"${hbS(s"48 + (($sz div 8) % 8)")}, ${hbS(s"48 + ($sz % 8)")}, '00'"
    val chkHex = Seq(32768, 4096, 512, 64, 8, 1)
      .map(p => hbS(s"48 + (($cs div $p) % 8)")).mkString(", ")
    s"concat(hex($nm), repeat('00', 89), " +      // name[100] (11 chars + NULs)
      "'3030303036343400', " +                    // mode "0000644\0"
      "'3030303030303000', '3030303030303000', " + // uid, gid "0000000\0"
      s"$sizeHex, " +                             // size[12] octal
      "repeat('30', 11), '00', " +                // mtime[12]
      s"$chkHex, '00', '20', " +                  // chksum[8]: 6 octal + NUL + space
      "'30', " +                                  // typeflag '0'
      "repeat('00', 100), " +                     // linkname
      "'757374617200', '3030', " +                // magic "ustar\0" + version "00"
      "repeat('00', 247), " +                     // uname..prefix + pad
      s"repeat('41', $sz), repeat('00', 512 - $sz))" // payload + block pad
  }

  val all: Seq[QueryDef] = Seq(

    // ——— Deduplication ———

    // Exact dedup: hash-groupBy on content, keep min id (survivor policy).
    QueryDef(
      "x01_dedup_exact",
      (s, d) =>
        docCorpus(s, d)
          .groupBy(md5(col("text").cast("binary")).as("text_hash"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
          .orderBy("text_hash"),
      Some(s"""WITH $corpusSql
              |SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
              |FROM corpus GROUP BY 1 ORDER BY text_hash""".stripMargin)),

    // MinHash signatures (shingle → hash → per-seed min).
    QueryDef(
      "x02_minhash_sig",
      (s, d) =>
        minhashSig(documents(s, d))
          .select(col("doc_id"), col("seed"), col("mh").as("minhash"))
          .orderBy("doc_id", "seed"),
      Some(s"""WITH ${minhashSigSql("documents")}
              |SELECT doc_id, seed, mh AS minhash FROM sig ORDER BY doc_id, seed""".stripMargin)),

    // MinHash + LSH banding: 4 bands × 2 rows; candidates = bucket join;
    // n_match = matching signature components (8 = near-certain dup).
    QueryDef(
      "x03_minhash_lsh_pairs",
      (s, d) => {
        // Signature arrays ride along through banding and the bucket join:
        // n_match comes from the two arrays, so no third signature join. The
        // self-join keeps both sides as the IDENTICAL plan (renames only
        // after the join) so ReuseExchange computes the bucket shuffle once.
        val bands = minhashSigArr(docCorpus(s, d))
          .select(col("doc_id"), col("sigs"), posexplode(expr(
            "transform(sequence(0, 3), b -> concat(least(sigs[2*b], sigs[2*b+1]), '|', greatest(sigs[2*b], sigs[2*b+1])))")))
          .select(col("doc_id"), col("sigs"), col("pos").as("band"), col("col").as("bsig"))
        bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(
            col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            col("a.sigs").as("sa"), col("b.sigs").as("sb"))
          .groupBy("a_id", "b_id")
          .agg(first(col("sa")).as("sa"), first(col("sb")).as("sb"))
          .select(col("a_id"), col("b_id"),
            size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), p => p))
              .cast(LongType).as("n_match"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $corpusSql,
              |${minhashSigSql("corpus")},
              |band AS (SELECT doc_id, CAST(floor(seed / 2) AS BIGINT) AS band,
              |  min(mh) || '|' || max(mh) AS bsig FROM sig GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
              |  JOIN band b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
              |SELECT c.a_id, c.b_id, count(CASE WHEN sa.mh = sb.mh THEN 1 END) AS n_match
              |FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
              |JOIN sig sb ON sb.doc_id = c.b_id AND sb.seed = sa.seed
              |GROUP BY c.a_id, c.b_id ORDER BY a_id, b_id""".stripMargin)),

    // SimHash-style 16-bit fingerprint: per hex position, majority vote of
    // token-hash high bits.
    QueryDef(
      "x04_simhash",
      // Explode + two hash aggregates: md5 per token once, ±1 vote per hex
      // position, majority per (doc, pos), bits folded back into a string.
      // All codegen'd; shuffles carry ≤ |docs|×16 rows after partial agg.
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .select(col("doc_id"), md5(col("tok").cast("binary")).as("h"))
          .withColumn("pos", explode(sequence(lit(1), lit(16))))
          .withColumn("v", when(expr("substring(h, pos, 1)") >= "8", 1L).otherwise(-1L))
          .groupBy("doc_id", "pos")
          .agg(sum(col("v")).as("sv"))
          .withColumn("bit", when(col("sv") >= 0, "1").otherwise("0"))
          .groupBy("doc_id")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("pos"), col("bit")))), x => x.getField("bit")),
            "").as("simhash"))
          .orderBy("doc_id"),
      Some(s"""WITH t0 AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
              |t AS (SELECT doc_id, md5(tok) AS h FROM t0),
              |p AS (SELECT doc_id, h, unnest(range(1, 17)) AS pos FROM t),
              |v AS (SELECT doc_id, pos, sum(CASE WHEN substr(h, pos, 1) >= '8' THEN 1 ELSE -1 END) AS sv
              |  FROM p GROUP BY 1, 2),
              |b AS (SELECT doc_id, pos, CASE WHEN sv >= 0 THEN '1' ELSE '0' END AS bit FROM v)
              |SELECT doc_id, string_agg(bit, '' ORDER BY pos) AS simhash FROM b
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // n-gram Jaccard near-dup: distinct word-3-gram sets, inverted-index
    // self-join, |A∩B| / |A∪B| ≥ 0.8.
    QueryDef(
      "x05_ngram_jaccard",
      (s, d) => {
        // Inverted-index self-join over distinct shingles; set sizes join
        // onto the SMALL post-aggregation pair table, never onto the
        // index itself.
        //
        // Hot-shingle cap: shingles present in more than `hotShingleMaxDf`
        // documents are removed from the index AND the universe (set sizes
        // are computed after the cap), so the result is the EXACT Jaccard
        // over discriminative shingles — not an approximation of the
        // uncapped one. Without the cap, one stopword shingle shared by f
        // documents emits f·(f-1)/2 candidate pairs: at 100× corpus scale
        // that quadratic term is the whole join. The oracle applies the
        // identical cap.
        val raw = docCorpus(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(graft.ops.TextDedup.shingles(col("tk"))).as("sh"))
          // ONE shuffle serves everything downstream: partitioning by sh
          // alone co-locates equal (doc_id, sh) rows, so the distinct
          // aggregate, the per-sh document-frequency aggregate, the
          // cap semi-join, and the pair self-join all run in-partition on
          // this exchange (HashPartitioning(sh) satisfies every later
          // ClusteredDistribution) — the planner inserts no further
          // exchange of index-sized data
          .repartition(col("sh"))
          .dropDuplicates("doc_id", "sh")
        val dfTab = raw.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= hotShingleMaxDf).select("sh")
        // shuffle_hash hints, twice over: (1) AQE would broadcast these
        // sf0.1-sized sides, which is impossible at 100 TB AND defeats
        // exchange reuse (each broadcast subtree recomputes the
        // tokenize→distinct chain — the measured +74% regression); (2) vs
        // merge joins, hash joins need NO sort of the index — the whole
        // query runs on hash aggregates and hash joins until the final
        // ORDER BY, so nothing index-sized is ever sorted
        // eager materialization: the capped index feeds THREE consumers
        // (both self-join sides + the size table); exchange reuse shares
        // the shuffle but re-runs the in-partition dedup/cap per consumer
        // (~3× that work, the real cost behind the round-2 +74%). A
        // localCheckpoint computes it exactly once per run with no
        // cross-run cache; partitioning survives (LogicalRDD keeps the
        // physical HashPartitioning(sh)), so the self-join still needs no
        // exchange. Cluster runs of the library form would use a reliable
        // checkpoint instead (see TextDedup.dedupMapping's cluster story).
        val ex = raw.join(dfTab.hint("shuffle_hash"), Seq("sh"), "left_semi")
          .localCheckpoint(eager = true)
        val nTab = ex.groupBy("doc_id").agg(count(lit(1)).cast(LongType).as("n"))
        ex.as("a")
          .join(ex.as("b").hint("shuffle_hash"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("i"))
          .join(nTab.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
          .join(nTab.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
          .withColumn("jaccard",
            round(col("i") / (col("na") + col("nb") - col("i")).cast(DoubleType), 6))
          .filter(col("jaccard") >= 0.8)
          .select("a_id", "b_id", "jaccard")
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $corpusSql,
              |toks AS (SELECT doc_id, $tokensSql AS tk FROM corpus),
              |sh0 AS (SELECT DISTINCT doc_id, sh FROM (
              |  SELECT doc_id, unnest($shinglesSql) AS sh FROM toks WHERE len(tk) >= 3) u),
              |heavy AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > $hotShingleMaxDf),
              |sh AS (SELECT doc_id, sh FROM sh0 s
              |  WHERE NOT EXISTS (SELECT 1 FROM heavy h WHERE h.sh = s.sh)),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a
              |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
              |SELECT a_id, b_id, round(i / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
              |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
              |WHERE round(i / CAST(sa.n + sb.n - i AS DOUBLE), 6) >= 0.8
              |ORDER BY a_id, b_id""".stripMargin)),

    // Embedding near-dup via sign-LSH buckets (the scale path: pairs are
    // only formed inside a 16-bit hyperplane-sign bucket, never all-pairs;
    // width rationale at signBucket above — the 100× decade point showed
    // 8 bits saturating into an n²/256 pair stage).
    QueryDef(
      "x06_embed_neardup",
      (s, d) => {
        val e = embCorpus(s, d).withColumn("bkt", signBucket(col("embedding")))
        val a = e.select(col("bkt"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
        val b = e.select(col("bkt"), col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        a.join(b, Seq("bkt")).filter(col("a_id") < col("b_id"))
          .withColumn("cos_sim",
            round(VectorFunctions.cosine(col("a_emb"), col("b_emb")), 6))
          .filter(col("cos_sim") >= 0.99)
          .select("a_id", "b_id", "cos_sim")
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
              |  UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings),
              |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, $signBucketSql AS bkt,
              |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm FROM corpus),
              |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |  round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) AS cos_sim
              |  FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)
              |SELECT a_id, b_id, cos_sim FROM p WHERE cos_sim >= 0.99
              |ORDER BY a_id, b_id""".stripMargin)),

    // ——— Similarity search ———

    // IVF-style ANN: fine centroids (deterministic pseudo-sample, count ∝
    // corpus for constant occupancy), TWO-LEVEL coarse→fine assignment
    // (KMeansLite.assignTwoLevel — √k coarse router, then the fine argmax
    // within the coarse cell; n·2√k build work instead of the n·k ≈ n²/97
    // single-level term), then search only the query's cluster. The
    // brute-force baseline is q21_cosine_topk.
    QueryDef(
      "x07_ann_ivf",
      (s, d) => {
        // max_by hash-agg assignment (not a ranking window: the partial
        // aggregate collapses the k candidates per vector map-side, so the
        // shuffle carries n rows instead of n×k; ties on ccos break to the
        // lowest cent_id, same as the oracle's ORDER BY ccos DESC,
        // cent_id), session-shared and store-backed via ivfAssignedShared.
        val assigned = ivfAssignedShared(s, d, "base", 97, 0,
          embeddings(s, d).select("vec_id", "embedding"))
        val q = assigned.filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("q_id"), col("cent_id"), col("embedding").as("q_emb"))
        val wTop = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("n_id"))
        q.join(assigned.select(col("vec_id").as("n_id"), col("cent_id"),
            col("embedding").as("n_emb")), Seq("cent_id"))
          .filter(col("n_id") =!= col("q_id"))
          .withColumn("cos_raw", VectorFunctions.cosine(col("q_emb"), col("n_emb")))
          .withColumn("rn", row_number().over(wTop).cast(LongType))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("n_id"), round(col("cos_raw"), 6).as("cos_sim"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm FROM embeddings),
             |cent AS (SELECT vec_id AS cent_id, emb AS c_emb, norm AS c_norm FROM e WHERE vec_id % 97 = 0),
             |mm AS (SELECT greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS m FROM cent),
             |co AS (SELECT cent.* FROM cent, mm WHERE cent_id % (97 * m) = 0),
             |fc AS (SELECT f.cent_id, f.c_emb, f.c_norm, co.cent_id AS cell,
             |  row_number() OVER (PARTITION BY f.cent_id
             |    ORDER BY list_dot_product(f.c_emb, co.c_emb) / (f.c_norm * co.c_norm) DESC, co.cent_id) AS rn
             |  FROM cent f CROSS JOIN co),
             |fcell AS (SELECT cent_id, c_emb, c_norm, cell FROM fc WHERE rn = 1),
             |vc AS (SELECT e.vec_id, e.emb, e.norm, co.cent_id AS cell,
             |  row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_dot_product(e.emb, co.c_emb) / (e.norm * co.c_norm) DESC, co.cent_id) AS rn
             |  FROM e CROSS JOIN co),
             |vcell AS (SELECT vec_id, emb, norm, cell FROM vc WHERE rn = 1),
             |ac AS (SELECT v.vec_id, f.cent_id, v.emb, v.norm,
             |  row_number() OVER (PARTITION BY v.vec_id
             |    ORDER BY list_dot_product(v.emb, f.c_emb) / (v.norm * f.c_norm) DESC, f.cent_id) AS arn
             |  FROM vcell v JOIN fcell f ON f.cell = v.cell),
             |assigned AS (SELECT vec_id, cent_id, emb, norm FROM ac WHERE arn = 1),
             |q AS (SELECT vec_id AS q_id, cent_id, emb AS q_emb, norm AS q_norm FROM assigned
             |  WHERE vec_id IN (1, 2, 3)),
             |x AS (SELECT q.q_id, n.vec_id AS n_id,
             |  list_dot_product(q.q_emb, n.emb) / (q.q_norm * n.norm) AS cos_raw
             |  FROM q JOIN assigned n ON n.cent_id = q.cent_id AND n.vec_id <> q.q_id),
             |r AS (SELECT q_id, n_id, cos_raw,
             |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, n_id) AS BIGINT) AS rn FROM x)
             |SELECT q_id, n_id, round(cos_raw, 6) AS cos_sim, rn FROM r WHERE rn <= 3
             |ORDER BY q_id, rn""".stripMargin)),

    // ——— Text analysis ———

    // Language ID: stopword-list n-gram heuristic with deterministic argmax.
    QueryDef(
      "x08_langid",
      (s, d) => {
        val en = Seq("the", "a", "of", "and", "to")
        val de = Seq("der", "die", "das", "und", "ist")
        val fr = Seq("le", "la", "les", "et", "est")
        val es = Seq("el", "los", "las", "y", "es")
        // all four set counts in ONE fused token scan (TokenSetCounts) —
        // the per-set filter(isin) form walks the array interpreted, ×4
        documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .withColumn("__sc",
            graft.functions.TokenSetCounts.counts(col("tk"), Seq(en, de, fr, es)))
          .select(col("doc_id"),
            col("__sc")(0).as("s_en"), col("__sc")(1).as("s_de"),
            col("__sc")(2).as("s_fr"), col("__sc")(3).as("s_es"))
          .withColumn("pred_lang",
            when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_es"), "en")
              .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
              .when(col("s_fr") >= col("s_es"), "fr")
              .otherwise("es"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              |sc AS (SELECT doc_id,
              |  len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS s_en,
              |  len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS s_de,
              |  len(list_filter(tk, x -> x IN ('le','la','les','et','est'))) AS s_fr,
              |  len(list_filter(tk, x -> x IN ('el','los','las','y','es'))) AS s_es FROM t)
              |SELECT doc_id, s_en, s_de, s_fr, s_es,
              |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
              |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
              |FROM sc ORDER BY doc_id""".stripMargin)),

    // Quality scoring: token/char stats + a linear quality score, via the
    // library op (ops.Curation.withQuality — the cross-engine rounding
    // discipline is documented there; x35 gates the same formula inside
    // the composed curate() pipeline).
    QueryDef(
      "x09_quality",
      (s, d) =>
        graft.ops.Curation.withQuality(documents(s, d))
          .select(col("doc_id"), col("n_tokens"), col("avg_tok_len"),
            col("punct_ratio"), col("stop_ratio"), col("quality_score"))
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, n_chars, text, $tokensSql AS tk FROM documents),
              |m AS (SELECT doc_id,
              |  CAST(len(tk) AS BIGINT) AS n_tokens,
              |  CAST(list_aggregate(list_transform(tk, x -> len(x)), 'sum') AS BIGINT) AS sum_len,
              |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
              |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_punct,
              |  n_chars FROM t),
              |r AS (SELECT doc_id, n_tokens,
              |  round(sum_len / CAST(n_tokens AS DOUBLE), 6) AS avg_tok_len,
              |  round(n_punct / CAST(n_chars AS DOUBLE), 6) AS punct_ratio,
              |  round(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio FROM m)
              |SELECT doc_id, n_tokens, avg_tok_len, punct_ratio, stop_ratio,
              |  round(0.4 * stop_ratio + 0.3 * (least(n_tokens, 100) / 100.0)
              |    + 0.2 * (1.0 - punct_ratio), 6) AS quality_score
              |FROM r ORDER BY doc_id""".stripMargin)),

    // Token counting: whitespace tokens + BPE-ish regex pieces.
    QueryDef(
      "x10_token_count",
      (s, d) =>
        documents(s, d)
          .select(
            col("doc_id"),
            size(tokens(col("text"))).cast(LongType).as("ws_tokens"),
            regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"))
              .cast(LongType).as("bpe_tokens"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS ws_tokens,
              |CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe_tokens
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Document fingerprinting: k-min sketch (k=3) over word-bigram hashes,
    // computed by the bounded-buffer KMinDistinctAggregator: the former
    // distinct + row_number window sorted the whole exploded bigram index
    // (docs × bigrams rows) to keep 3 per doc; the aggregator carries a
    // ≤3-element buffer through a hash aggregate, partial-combining
    // map-side, so no sort of the index exists and the shuffle carries
    // ≤ |docs|×3 hashes (plan pinned in PlanShapeSpec).
    QueryDef(
      "x11_fingerprint",
      (s, d) => {
        val kmin = udaf(new graft.functions.KMinDistinctAggregator(3))
        documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"),
            explode(graft.ops.TextDedup.shingles(col("tk"), 2)).as("bg"))
          .select(col("doc_id"), md5(col("bg").cast("binary")).as("h"))
          .groupBy("doc_id")
          .agg(kmin(col("h")).as("fps"))
          .select(col("doc_id"), posexplode(col("fps")))
          .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("rn"),
            col("col").as("fp"))
          .orderBy("doc_id", "rn")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              |bg AS (SELECT DISTINCT doc_id, md5(b) AS h FROM (
              |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS b
              |  FROM t WHERE len(tk) >= 2) u),
              |r AS (SELECT doc_id, h,
              |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY h) AS BIGINT) AS rn FROM bg)
              |SELECT doc_id, rn, h AS fp FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    // ——— Multimodal plumbing (metadata path; binary decode is stubbed in
    //     ops.Multimodal — this query is the deterministic, oracle-checkable
    //     schema/partitioning surface) ———
    QueryDef(
      "x12_multimodal_meta",
      (s, d) =>
        documents(s, d)
          .withColumn("bin", col("text").cast("binary"))
          .select(
            col("doc_id"),
            length(col("bin")).cast(LongType).as("n_bytes"),
            ascii(col("text")).cast(LongType).as("first_cp"),
            md5(col("bin")).as("content_md5"),
            floor(length(col("bin")) / lit(100.0)).cast(LongType).as("n_frames"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |CAST(ord(substr(text, 1, 1)) AS BIGINT) AS first_cp,
             |md5(text) AS content_md5,
             |CAST(floor(octet_length(encode(text)) / 100.0) AS BIGINT) AS n_frames
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ——— Bounded top-k ranking (the 100 TB ranking path) ———

    // Same answer as q21_cosine_topk, computed through TopKAggregator
    // instead of a ranking window: the typed Aggregator partial-combines
    // map-side, so each partition ships at most k rows per group to the
    // shuffle — a row_number window sorts and shuffles every candidate row.
    // Green parity against q21's oracle proves the bounded-buffer path
    // equals the window path row-for-row (ties break cos DESC, c_id ASC in
    // both).
    QueryDef(
      "x13_topk_agg",
      (s, d) => {
        val topk = udaf(new graft.functions.TopKAggregator(5))
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        c.join(broadcast(q))
          .withColumn("cos_raw", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
          .groupBy("q_id")
          .agg(topk(col("cos_raw"), col("c_id")).as("top"))
          .select(col("q_id"), posexplode(col("top")))
          .select(col("q_id"), col("col._2").as("c_id"),
            round(col("col._1"), 6).as("cos_sim"),
            (col("pos") + 1).cast(LongType).as("rn"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm FROM embeddings),
             |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e WHERE vec_id < 5),
             |c AS (SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm FROM e WHERE vec_id >= 5),
             |x AS (SELECT q_id, c_id, list_dot_product(q_emb, c_emb) / (q_norm * c_norm) AS cos_raw FROM q CROSS JOIN c),
             |r AS (SELECT q_id, c_id, cos_raw,
             |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, c_id) AS BIGINT) AS rn FROM x)
             |SELECT q_id, c_id, round(cos_raw, 6) AS cos_sim, rn FROM r WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // Frame slicing through ops.Multimodal.sliceFrames: the codegen-native
    // video-frame path (explode + byte-window slice + per-frame checksum),
    // oracle-checkable because documents.text is ASCII (byte slice == char
    // slice; the gate data is verified ASCII at every SF).
    QueryDef(
      "x15_frame_slices",
      (s, d) =>
        graft.ops.Multimodal.sliceFrames(
            documents(s, d).select(col("doc_id").as("media_id"),
              col("text").cast("binary").as("media")), 100)
          .select(col("media_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"))
          .orderBy("media_id", "frame_idx"),
      Some("""WITH m AS (SELECT doc_id AS media_id, text AS media,
             |  CAST(floor(octet_length(encode(text)) / 100.0) AS BIGINT) AS n_frames FROM documents),
             |f AS (SELECT media_id, unnest(range(0, n_frames)) AS frame_idx, media FROM m WHERE n_frames > 0)
             |SELECT media_id, frame_idx, md5(substring(media, frame_idx * 100 + 1, 100)) AS frame_md5
             |FROM f ORDER BY media_id, frame_idx""".stripMargin)),

    // ——— Custom physical operator (§2.3(c) escape hatch) ———

    // q12's as-of join computed through the custom AsOfJoin LogicalPlan →
    // AsOfJoinStrategy → AsOfJoinExec sorted-merge pass (plans/AsOfJoin
    // .scala): one forward scan per partition instead of q12's
    // union-of-both-tables window. Same oracle as q12 — green means the
    // custom operator is row-for-row equal to the compositional form.
    QueryDef(
      "x14_asof_custom",
      (s, d) => {
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("ts"))
        val or = orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp").as("o_orderdate"))
        graft.plans.AsOf.join(ev, or, "user_id" -> "o_custkey", "ts" -> "o_orderdate",
            tieBreak = Some("o_orderkey"))
          .select(col("event_id"), col("user_id"),
            col("o_orderkey").as("last_orderkey"), col("o_orderdate").as("last_orderdate"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, last_orderkey, last_orderdate FROM (
             |SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey, o.o_orderdate AS last_orderdate,
             |row_number() OVER (PARTITION BY e.event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
             |FROM events e JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) t
             |WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // SimHash near-dup PAIRING (x04 only fingerprints), cluster-level.
    // Correlated token stats make fingerprints concentrate (true of real
    // corpora, extreme in synthetic ones), so banding RAW docs goes
    // quadratic inside identical-fingerprint groups — measured 99 s at
    // sf0.1, 16-bit fingerprints were worse still. Scale-correct shape:
    // (1) collapse identical 32-bit fingerprints into clusters (linear
    // hash agg — this IS simhash exact-dedup, min-id survivor); (2) band
    // only the DISTINCT fingerprints, 3 bands of 11/11/10 bits
    // (pigeonhole: hamming ≤ 2 ⇒ ≥1 band equal); (3) exact hamming on the
    // small candidate set. Output: near-dup cluster pairs, hamming 1–2
    // (hamming-0 pairs live inside clusters), with pair multiplicity.
    QueryDef(
      "x16_simhash_pairs",
      (s, d) => {
        // Fingerprints come from the public API (TextDedup
        // .simhashFingerprint — BIGINT, one token explode + one hash agg
        // with one partial sum per bit) so library and gated query cannot
        // diverge; bands are shift+mask and hamming is one bit_count(xor)
        // intrinsic (substring compares blew past the codegen method limit
        // and ran interpreted).
        //
        // 62-bit prints, NOT 32: the band join compares everything sharing
        // a band bucket, so bucket occupancy is |distinct prints| / 2^bandBits
        // and the pair stage is QUADRATIC in it. 32-bit prints cap bands at
        // 10-11 bits (2 k buckets) — measured super-linear at 10× data
        // (SCALE.md). Three 21/21/20-bit bands give ~2 M buckets per band;
        // the pigeonhole guarantee (hamming ≤ 2 with 3 bands → one band
        // exact-matches) is width-independent, so recall is unchanged.
        val sims = graft.ops.TextDedup.simhashFingerprint(docCorpus(s, d), bits = 62)
        val clusters = sims.groupBy("simhash")
          .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n"))
        val bandDefs = Seq((0, 21), (21, 21), (42, 20))
        val bands = clusters.select(col("simhash"), col("rep"), col("n"),
            posexplode(array(bandDefs.map { case (sft, len) =>
              expr(s"shiftright(simhash, $sft) & ${(1L << len) - 1}") }: _*)))
          .toDF("simhash", "rep", "n", "band_idx", "band")
        val a = bands.select(col("band_idx"), col("band"),
          col("simhash").as("sa"), col("rep").as("a_id"), col("n").as("na"))
        val b = bands.select(col("band_idx"), col("band"),
          col("simhash").as("sb"), col("rep").as("b_id"), col("n").as("nb"))
        a.join(b, Seq("band_idx", "band"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id", "sa", "sb", "na", "nb").distinct()
          .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
          .filter(col("hamming") <= 2)
          .select(col("a_id"), col("b_id"), col("hamming"),
            (col("na") * col("nb")).as("pair_count"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $corpusSql,
              |t0 AS (SELECT doc_id, unnest($tokensSql) AS tok FROM corpus),
              |t AS (SELECT doc_id, md5(tok) AS h FROM t0),
              |sv AS (SELECT doc_id, ${(0 until 62).map(p =>
                  s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(h, ${p / 4 + 1}, 1)) - 1) >> ${p % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS sv$p")
                  .mkString(", ")}
              |  FROM t GROUP BY doc_id),
              |sim AS (SELECT doc_id, ${(0 until 62).map(p =>
                  s"(CASE WHEN sv$p >= 0 THEN (1::BIGINT << $p) ELSE 0 END)").mkString(" + ")} AS simhash FROM sv),
              |cl AS (SELECT simhash, min(doc_id) AS rep, count(*) AS n FROM sim GROUP BY simhash),
              |bd AS (SELECT simhash, rep, n, unnest(range(0, 3)) AS band_idx FROM cl),
              |bands AS (SELECT simhash, rep, n, band_idx,
              |  (simhash >> CAST(band_idx * 21 AS INT)) &
              |    (CASE WHEN band_idx = 2 THEN 1048575 ELSE 2097151 END) AS band FROM bd),
              |cand AS (SELECT DISTINCT a.rep AS a_id, b.rep AS b_id, a.simhash AS sa, b.simhash AS sb,
              |  a.n AS na, b.n AS nb
              |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band = b.band AND a.rep < b.rep)
              |SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming, na * nb AS pair_count
              |FROM cand WHERE bit_count(xor(sa, sb)) <= 2 ORDER BY a_id, b_id""".stripMargin)),

    // Deterministic hash-based train/val split (ops.Sampling): assignment
    // is a pure narrow expression of (doc_id, salt) — reproducible across
    // runs/engines and stable under table growth, unlike rand() or
    // row_number splits. Aggregated per (lang, split) for a compact gate.
    QueryDef(
      "x17_hash_split",
      (s, d) =>
        documents(s, d)
          .withColumn("split", graft.ops.Sampling.splitColumn(col("doc_id"), "split", 0.8))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
          .orderBy("lang", "split"),
      Some("""SELECT lang,
             |CASE WHEN substring(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'cccccccc'
             |  THEN 'train' ELSE 'val' END AS split,
             |count(*) AS n, min(doc_id) AS first_doc
             |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // The END-TO-END dedup pipeline (TextDedup.dedupMapping): LSH pairs →
    // connected components by iterative min-label propagation → min-id
    // canonical per cluster. The oracle recomputes the same components with
    // a recursive CTE over the identical pair set — so even the iterative
    // graph stage is engine-differentially checked, not just spec'd.
    QueryDef(
      "x18_dedup_components",
      (s, d) => {
        val corpus = docCorpus(s, d)
        // The pair set is the most expensive stage and x25 needs the SAME
        // frame for its differential GraphX pass — publish the materialized
        // pairs (computed here regardless) so the workflow pays for them
        // once per session, the way a 100 TB pipeline would materialize
        // them once and fan out. x18 stays the honest producer: it always
        // computes fresh pairs, never reads the cache.
        val pairs = SharedCache.put(lshPairsKey(s, d), lshPairsBuild(corpus))
        graft.ops.TextDedup.dedupMappingFromPairs(corpus, pairs)
          .orderBy("doc_id")
      },
      Some(dedupComponentsSql)),

    // Benchmark-contamination detection: training docs sharing ≥1 word
    // 3-gram with a benchmark set (here: doc_id < 50 plays the benchmark).
    // The benchmark shingle set is small by construction → broadcast
    // semi-join; the (100 TB) training side is scanned once and never
    // shuffled for the probe. n_shared counts distinct shared shingles.
    QueryDef(
      "x19_contamination",
      (s, d) => {
        val all = documents(s, d)
        def shingleSet(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(graft.ops.TextDedup.shingles(col("tk"))).as("sh"))
          .distinct()
        val bench = shingleSet(all.filter(col("doc_id") < 50)).select("sh").distinct()
        shingleSet(all.filter(col("doc_id") >= 50))
          .join(broadcast(bench), Seq("sh"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              |sh AS (SELECT DISTINCT doc_id, sh FROM (
              |  SELECT doc_id, unnest($shinglesSql) AS sh FROM t WHERE len(tk) >= 3) u),
              |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50)
              |SELECT s.doc_id, count(*) AS n_shared FROM sh s JOIN bench b ON s.sh = b.sh
              |WHERE s.doc_id >= 50 GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Dataset profiling (the "data card" op): per-column row/null/distinct
    // counts, min/max, decimal-exact mean, exact interpolated median — one
    // aggregation pass per column over the fact table, unioned into a tall
    // stats table. Exact percentile (not approx) so both engines agree.
    QueryDef(
      "x20_profile",
      (s, d) => {
        val li = lineitem(s, d)
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        // One codegen'd pass for the algebraic stats: four countDistinct
        // aggregates in one agg force a 5x Expand of the input (measured
        // slower than four passes). Shape that wins: one wide codegen'd
        // aggregation (no distincts, no percentiles) + per-column distinct
        // jobs + ONE all-column sketch-median job, ALL submitted
        // concurrently — wall time is the widest single job, not the sum.
        // Medians are the production GK sketch, rank-contract gated (the
        // md_ok boolean below; x37's pattern) — the former exact
        // `percentile` jobs were object aggregates whose partial state is
        // every value, the catalog's canonical parity tax. Distinct counts
        // stay EXACT (two-stage hash distinct amortizes at scale; x37
        // gates the sketch form of those).
        val aggs = cols.flatMap { c =>
          Seq(
            count(col(c)).as(s"nn_$c"),
            round(min(col(c)).cast(DoubleType), 6).as(s"mn_$c"),
            round(max(col(c)).cast(DoubleType), 6).as(s"mx_$c"),
            // decimal-exact sum, then the same double-division order as the
            // oracle (cast-sum-to-double / count)
            round(dsum(col(c)).cast(DoubleType) / count(col(c)), 6).as(s"me_$c"))
        }
        val wideAgg = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
        // non-null distincts: DataFrame.distinct() would count NULL as a
        // value, but the oracle's count(DISTINCT c) excludes NULLs
        val distincts = cols.map(c =>
          () => li.select(col(c)).filter(col(c).isNotNull).distinct().count())
        def medians = {
          // PRODUCTION medians: one GK-sketch pass for all columns (bounded
          // state, map-side merge — the 100 TB form; the former per-column
          // exact `percentile` jobs were the catalog's textbook parity
          // tax), then ONE codegen'd rank-verification pass asserting each
          // estimate's exact rank within ±0.5 % — x37's error contract,
          // emitted as the md_ok boolean the oracle checks as TRUE.
          // An all-null column yields a NULL estimate; its rank check is
          // vacuous (0 ≤ 0 ≤ 0), so md_ok stays TRUE like the oracle's.
          val estRow = li.agg(
            expr(s"approx_percentile(${cols.head}, 0.5, 2000)").as(cols.head),
            cols.tail.map(c => expr(s"approx_percentile($c, 0.5, 2000)").as(c)): _*).head()
          val verify = li.agg(
            count(lit(1)).as("__one"),
            cols.flatMap { c =>
              val est = if (estRow.isNullAt(estRow.fieldIndex(c))) lit(null)
                else lit(estRow.getAs[Any](c))
              Seq(
                count(col(c)).as(s"n_$c"),
                sum(when(col(c) < est, 1L).otherwise(0L)).as(s"lt_$c"),
                sum(when(col(c) <= est, 1L).otherwise(0L)).as(s"le_$c"))
            }: _*).head()
          cols.map { c =>
            val n = verify.getAs[Long](s"n_$c")
            val lt = verify.getAs[Long](s"lt_$c")
            val le = verify.getAs[Long](s"le_$c")
            c -> (lt <= 0.505 * n && le >= 0.495 * n)
          }.toMap
        }
        // the wide pass, the four distinct counts and the median pass all
        // run at once (a nested call is cancelled with its outer call)
        val (wide, (nds, md)) = Concurrently.both(s)(wideAgg.localCheckpoint(eager = true),
          Concurrently.both(s)(Concurrently.all(s)(distincts), medians))
        val nd = cols.zip(nds).toMap
        cols.map { c =>
          wide.select(lit(c).as("column"), col("n_rows"),
            col(s"nn_$c").as("n_non_null"), lit(nd(c)).as("n_distinct"),
            col(s"mn_$c").as("min_v"), col(s"mx_$c").as("max_v"),
            col(s"me_$c").as("mean_v"),
            lit(md(c)).as("md_ok"))
        }.reduce(_ unionByName _).orderBy("column")
      },
      Some {
        def prof(c: String) =
          s"""SELECT '$c' AS "column", count(*) AS n_rows, count($c) AS n_non_null,
             |count(DISTINCT $c) AS n_distinct,
             |round(CAST(min($c) AS DOUBLE), 6) AS min_v,
             |round(CAST(max($c) AS DOUBLE), 6) AS max_v,
             |round(CAST(sum(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / count($c), 6) AS mean_v,
             |TRUE AS md_ok FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(prof).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // Embedding mean-pooling per group (the centroid/feature-pooling op),
    // emitted tall (grp, pos, mean) so the gate can canonicalize it.
    // Float summation order is nondeterministic across engines, so elements
    // are quantized FIRST with floor(x·10⁶) — floor on a double is exact
    // (no tie semantics, unlike round/decimal casts) — making the sum an
    // exact integer and the mean a deterministic double division.
    QueryDef(
      "x21_embed_pool",
      (s, d) =>
        embeddings(s, d)
          .select((col("vec_id") % 10).as("grp"), posexplode(col("embedding")))
          .select(col("grp"), col("pos").cast(LongType).as("pos"),
            floor(col("col").cast(DoubleType) * 1e6).cast(LongType).as("q"))
          .groupBy("grp", "pos")
          .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
          .select(col("grp"), col("pos"),
            round(col("sq").cast(DoubleType) / col("n"), 6).as("mean_q6"))
          .orderBy("grp", "pos"),
      Some("""WITH e AS (SELECT vec_id % 10 AS grp,
             |  generate_subscripts(embedding, 1) - 1 AS pos,
             |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
             |FROM embeddings)
             |SELECT grp, CAST(pos AS BIGINT) AS pos,
             |  round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS mean_q6
             |FROM e GROUP BY 1, 2 ORDER BY grp, pos""".stripMargin)),

    // Skew-safe aggregation through ops.Salting: l_returnflag has only 3
    // values over the whole fact table — the canonical hot-key shape. The
    // salted two-phase count (pre-agg on (key, salt), final on key) must
    // equal the direct GROUP BY, which is exactly what the oracle computes.
    QueryDef(
      "x22_salted_agg",
      (s, d) =>
        graft.ops.Salting.saltedCount(lineitem(s, d), "l_returnflag", salts = 8)
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n FROM lineitem
             |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // PII scrubbing: email addresses and long digit runs (ids, phone-ish
    // numbers) redacted with fixed tokens — the pre-training hygiene pass.
    // Patterns stay inside the RE2 ∩ java.util.regex common subset
    // (character classes, bounded repetition — no lookaround/backrefs), so
    // both engines rewrite identically; the gate compares a checksum of
    // the scrubbed text plus the per-doc redaction counts.
    QueryDef(
      "x24_pii_scrub",
      (s, d) => {
        val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val longDigits = "[0-9]{9,}"
        documents(s, d)
          .withColumn("t1", regexp_replace(col("text"), email, "<EMAIL>"))
          .withColumn("scrubbed", regexp_replace(col("t1"), longDigits, "<NUM>"))
          .select(
            col("doc_id"),
            md5(col("scrubbed").cast("binary")).as("scrubbed_md5"),
            regexp_count(col("text"), lit(email)).cast(LongType).as("n_emails"),
            regexp_count(col("text"), lit(longDigits)).cast(LongType).as("n_long_nums"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |md5(regexp_replace(regexp_replace(text,
             |  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |  '[0-9]{9,}', '<NUM>', 'g')) AS scrubbed_md5,
             |CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
             |CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_long_nums
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // TRAINED-centroid IVF ANN, oracle-gated end to end (x07 uses a
    // pseudo-sample; ops.KMeansLite is the float library form). Everything
    // numeric is exact-integer so a full Lloyd iteration survives the
    // cross-engine gate: embeddings quantize to floor(x·10⁶) BIGINTs (dots
    // ≤ 64·(6·10⁵)² ≈ 2.3e13 ≪ 2⁵³ — exact in both engines regardless of
    // summation order), centroid means re-quantize with floor(sum/n), and
    // only the final cosine normalization touches floats (deterministic:
    // same exact ints → same IEEE ops). Pipeline: range-bucket init →
    // assign (max_by) → mean update → assign → cluster-local top-3.
    QueryDef(
      "x23_ann_trained",
      (s, d) => {
        // Lloyd with DRIVER-HELD centroids — the MLlib shape and the 100 TB
        // one: k·dim values (k = 8, dim = 64 here — model state, not data)
        // round-trip through the driver each iteration, and every
        // assignment is ONE narrow whole-stage-codegen pass scoring all k
        // centroids per vector via the native IntDotProduct expression
        // over the PACKED array — no posexplode×centroid join, no
        // (vec, cent) shuffle. The only shuffles left are the two k×dim
        // centroid-update rollups. Arithmetic is the same exact-integer
        // quantization as before (floor(x·10⁶) elements, integer dots,
        // one IEEE cos division in oracle field order), so the hash gate
        // is unchanged — this is the exact gate path the float
        // [[graft.ops.KMeansLite]] production API is spec-checked against.
        // Former shape (pos-joins + per-round vec×cent aggregations)
        // measured 3.2 s at sf0.1 on 2000 vectors — pure plan overhead.
        val k = 8
        // the TRAINED state — two Lloyd rounds of driver-held centroid
        // updates plus the final assignment — is a pure exact-integer
        // function of the embeddings fixture, so it persists like the LSH
        // pair frame: trained once per fixture, served to fresh sessions
        // from the cent_id-bucketed store (centroid arrays are implied by
        // the assignment the consumers actually read). v1: bump when k,
        // the init rule, or the iteration count changes.
        val a2 = SharedCache.getOrCompute(
          SharedCache.key(s, d, s"ann_trained:k$k:i2")) {
          graft.ops.DerivedStore.getOrBuild(s,
            name = s"ann_trained_v1_k${k}_i2_" + dirSlug(d),
            inputFiles = Seq(s"$d/embeddings.parquet"),
            bucketCols = Seq("cent_id")) {
            val packed = embeddings(s, d)
              .select(col("vec_id"),
                expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
                  .as("qa"))
              .withColumn("nv", graft.functions.IntDotProduct.intDot(col("qa"), col("qa")))
              .localCheckpoint(eager = true)
            val r0 = packed.agg(min(col("vec_id")), max(col("vec_id"))).head()
            val (mn, mx) = (r0.getLong(0), r0.getLong(1))
            val step = math.max(1L, (mx - mn + 1) / k)
            // initial centroids: each id-range bucket's lowest-id vector
            val c0 = packed
              .groupBy(least(floor((col("vec_id") - mn) / step), lit(k - 1L))
                .cast("long").as("cent_id"))
              .agg(min_by(col("qa"), col("vec_id")).as("cq"))
              .collect()
              .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
              .sortBy(_._1)
            // one narrow pass: cos against all k centroids, argmax with
            // tie → smallest cent_id (struct max over (cos, -cent_id), the
            // same order the previous max_by used)
            def assign(cents: Array[(Long, Array[Long])]): DataFrame = {
              val scored = array(cents.map { case (cid, arr) =>
                val nc = arr.map(x => x * x).sum
                struct(
                  (graft.functions.IntDotProduct.intDot(col("qa"), typedLit(arr))
                    .cast(DoubleType) /
                    (sqrt(col("nv").cast(DoubleType)) * sqrt(lit(nc.toDouble))))
                    .as("cos"),
                  lit(-cid).as("ncid"))
              }: _*)
              packed.withColumn("cent_id", (-array_max(scored).getField("ncid")).cast("long"))
            }
            // centroid update: floor(mean) per (cent_id, pos) — k×dim rows
            def update(assigned: DataFrame): Array[(Long, Array[Long])] =
              assigned.select(col("cent_id"), posexplode(col("qa")))
                .groupBy("cent_id", "pos")
                .agg(floor(sum(col("col")).cast(DoubleType) / count(lit(1)))
                  .cast("long").as("cq"))
                .collect()
                .groupBy(_.getLong(0)).toArray
                .map { case (cid, rs) =>
                  (cid, rs.sortBy(_.getInt(1)).map(_.getLong(2)))
                }
                .sortBy(_._1)
            assign(update(assign(c0)))
          }.localCheckpoint(eager = true)
        }
        val qrows = a2.filter(col("vec_id").isin(1L, 2L, 3L))
          .select("vec_id", "cent_id", "qa", "nv").collect().sortBy(_.getLong(0))
        val dots = qrows.map { qr =>
          val (qid, qcent) = (qr.getLong(0), qr.getLong(1))
          val qarr = qr.getSeq[Long](2).toArray
          val nvq = qr.getLong(3)
          a2.filter(col("cent_id") === qcent && col("vec_id") =!= qid)
            .select(lit(qid).as("q_id"), col("vec_id").as("n_id"),
              (graft.functions.IntDotProduct.intDot(col("qa"), typedLit(qarr))
                .cast(DoubleType) /
                (sqrt(lit(nvq.toDouble)) * sqrt(col("nv").cast(DoubleType))))
                .as("cos_raw"))
        }.reduce(_ unionByName _)
        val w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("n_id"))
        dots.withColumn("rn", row_number().over(w).cast(LongType)).filter(col("rn") <= 3)
          .select(col("q_id"), col("n_id"), round(col("cos_raw"), 6).as("cos_sim"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q FROM embeddings),
             |b AS (SELECT min(vec_id) AS mn, max(vec_id) AS mx FROM e),
             |p AS (SELECT mn, greatest(1, CAST(floor((mx - mn + 1) / 8.0) AS BIGINT)) AS step FROM b),
             |reps AS (SELECT least(CAST(floor((v.vec_id - p.mn) / p.step) AS BIGINT), 7) AS cent_id,
             |  min(v.vec_id) AS rep FROM (SELECT DISTINCT vec_id FROM e) v, p GROUP BY 1),
             |c0 AS (SELECT r.cent_id, e.pos, e.q AS cq FROM e JOIN reps r ON e.vec_id = r.rep),
             |nv AS (SELECT vec_id, sum(q * q) AS nv FROM e GROUP BY 1),
             |nc0 AS (SELECT cent_id, sum(cq * cq) AS nc FROM c0 GROUP BY 1),
             |d1 AS (SELECT e.vec_id, c.cent_id, sum(e.q * c.cq) AS dot FROM e JOIN c0 c ON e.pos = c.pos GROUP BY 1, 2),
             |a1 AS (SELECT vec_id, cent_id FROM (SELECT d.vec_id, d.cent_id,
             |    row_number() OVER (PARTITION BY d.vec_id
             |      ORDER BY d.dot / (sqrt(nv.nv) * sqrt(n.nc)) DESC, d.cent_id) AS rn
             |  FROM d1 d JOIN nv ON nv.vec_id = d.vec_id JOIN nc0 n ON n.cent_id = d.cent_id) t WHERE rn = 1),
             |c1 AS (SELECT a.cent_id, e.pos,
             |  CAST(floor(CAST(sum(e.q) AS DOUBLE) / count(*)) AS BIGINT) AS cq
             |  FROM e JOIN a1 a ON a.vec_id = e.vec_id GROUP BY 1, 2),
             |nc1 AS (SELECT cent_id, sum(cq * cq) AS nc FROM c1 GROUP BY 1),
             |d2 AS (SELECT e.vec_id, c.cent_id, sum(e.q * c.cq) AS dot FROM e JOIN c1 c ON e.pos = c.pos GROUP BY 1, 2),
             |a2 AS (SELECT vec_id, cent_id FROM (SELECT d.vec_id, d.cent_id,
             |    row_number() OVER (PARTITION BY d.vec_id
             |      ORDER BY d.dot / (sqrt(nv.nv) * sqrt(n.nc)) DESC, d.cent_id) AS rn
             |  FROM d2 d JOIN nv ON nv.vec_id = d.vec_id JOIN nc1 n ON n.cent_id = d.cent_id) t WHERE rn = 1),
             |dd AS (SELECT qa.vec_id AS q_id, na.vec_id AS n_id, sum(eq.q * en.q) AS dot
             |  FROM a2 qa JOIN a2 na ON na.cent_id = qa.cent_id AND na.vec_id <> qa.vec_id
             |  JOIN e eq ON eq.vec_id = qa.vec_id JOIN e en ON en.vec_id = na.vec_id AND en.pos = eq.pos
             |  WHERE qa.vec_id IN (1, 2, 3) GROUP BY 1, 2),
             |r AS (SELECT dd.q_id, dd.n_id, dd.dot / (sqrt(a.nv) * sqrt(bb.nv)) AS cos_raw,
             |  CAST(row_number() OVER (PARTITION BY dd.q_id
             |    ORDER BY dd.dot / (sqrt(a.nv) * sqrt(bb.nv)) DESC, dd.n_id) AS BIGINT) AS rn
             |  FROM dd JOIN nv a ON a.vec_id = dd.q_id JOIN nv bb ON bb.vec_id = dd.n_id)
             |SELECT q_id, n_id, round(cos_raw, 6) AS cos_sim, rn FROM r WHERE rn <= 3
             |ORDER BY q_id, rn""".stripMargin)),

    // GraphX connected components, differentially gated: the SAME LSH pair
    // set that feeds x18 (literally the same materialized frame, via
    // SharedCache — a 100 TB workflow computes pairs once and fans out)
    // runs through the Pregel-based GraphAlgos.connectedComponents pairs
    // entry point. Doc ids ARE the vertex ids there, so GraphX's component
    // representative (smallest vertex id in the component) is the min-id
    // canonical directly — and the recursive-CTE oracle checks BOTH
    // iterative-components implementations (DataFrame label propagation
    // AND GraphX) against each other.
    QueryDef(
      "x25_graphx_components",
      (s, d) => {
        val corpus = docCorpus(s, d)
        // consume x18's published pair set; compute it standalone when x18
        // hasn't run in this session (same code path, same result)
        val pairs = lshPairsShared(s, d, corpus)
        graft.ops.GraphAlgos
          .connectedComponents(
            corpus.select(col("doc_id")), pairs.select(col("a_id"), col("b_id")))
          .select(col("id").as("doc_id"), col("component").as("canonical_id"))
          .orderBy("doc_id")
      },
      Some(dedupComponentsSql)),

    // Within-document repetition collapse (crawl hygiene: stuck generators /
    // boilerplate echo repeat the same token run back-to-back). Consecutive
    // duplicate tokens collapse to one; the gate pins the cleaned text's
    // checksum plus the removal counts. Scale posture: a pure NARROW per-row
    // array op — zero shuffle, no window — so it composes into any scan
    // pipeline for free. (The index lambda is interpreted, fine for
    // sentence/paragraph-sized arrays; a book-length-document corpus would
    // switch to the explode + lag-window form, which is all codegen but
    // costs a shuffle by doc.)
    QueryDef(
      "x26_repetition_collapse",
      (s, d) =>
        documents(s, d)
          // null-text rows are dropped EXPLICITLY on both sides: the oracle's
          // unnest would silently drop them while Spark would null-extend —
          // the filter makes the two engines agree by construction
          .filter(col("text").isNotNull)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .select(col("doc_id"),
            size(col("tk")).cast(LongType).as("n_tokens"),
            expr("filter(tk, (x, i) -> i = 0 OR x != tk[i-1])").as("cleaned"))
          .select(col("doc_id"), col("n_tokens"),
            (col("n_tokens") - size(col("cleaned"))).cast(LongType).as("n_removed"),
            md5(array_join(col("cleaned"), " ").cast("binary")).as("cleaned_md5"))
          .orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents
              |  WHERE text IS NOT NULL),
              |u AS (SELECT doc_id, unnest(tk) AS tok,
              |  generate_subscripts(tk, 1) AS pos, len(tk) AS n FROM toks),
              |c AS (SELECT doc_id, tok, pos, n,
              |  lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM u)
              |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
              |  CAST(max(n) - count(CASE WHEN prev IS NULL OR tok <> prev THEN 1 END) AS BIGINT) AS n_removed,
              |  md5(string_agg(tok, ' ' ORDER BY pos)
              |    FILTER (WHERE prev IS NULL OR tok <> prev)) AS cleaned_md5
              |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // REAL media decode, oracle-gated end to end: each doc_id < 20 becomes
    // a deterministic blob — PPM P6 / 24bpp BMP / s16le PCM WAV / corrupt,
    // by doc_id % 4 — built byte-identically in BOTH engines from the same
    // per-row parameters (hex-string construction → unhex). Spark decodes
    // the actual bytes through Multimodal.HeaderDecoder (the no-codec-lib
    // real path: ASCII PPM header parse, little-endian BMP/WAV field
    // reads, corrupt-blob fake fallback); DuckDB independently parses the
    // SAME fields back out of the byte encoding (substr/instr arithmetic
    // on the hex, regexp over the decoded PPM header) — so the decoder's
    // byte arithmetic is engine-differentially checked, not just spec'd.
    QueryDef(
      "x27_header_decode",
      (s, d) => {
        val base = documents(s, d).filter(col("doc_id") < 20)
          .select(col("doc_id"),
            (col("doc_id") % 4).as("kind"),
            (col("doc_id") % 37 + 1).cast("int").as("w"),
            (col("doc_id") % 23 + 1).cast("int").as("h"),
            ((col("doc_id") % 50) * 100 + 8000).cast("int").as("rate"),
            (col("doc_id") % 2 + 1).cast("int").as("ch"))
          // BMP row stride pads to 4 bytes; ds is the declared pixel size
          .withColumn("ds", expr("((w * 3 + 3) div 4) * 4 * h"))
        val ppmHex =
          "hex(CAST(concat('P6', char(10), CAST(w AS STRING), ' ', CAST(h AS STRING), " +
            "char(10), '255', char(10), 'abcdef') AS BINARY))"
        val bmpHex = s"concat('424D', ${le32S("54 + ds")}, '0000000036000000', " +
          s"'28000000', ${le32S("w")}, ${le32S("h")}, '01001800', '00000000', " +
          s"${le32S("ds")}, '00000000000000000000000000000000', 'ABCDEF0123456789')"
        val wavHex = s"concat('52494646', ${le32S("44")}, '57415645666D742010000000', " +
          s"'0100', ${le16S("ch")}, ${le32S("rate")}, ${le32S("rate * ch * 2")}, " +
          s"${le16S("ch * 2")}, '1000', '64617461', ${le32S("8")}, '00400080FF7F0180')"
        val corruptHex = s"concat(${hbS("doc_id % 256")}, ${hbS("(doc_id * 7) % 256")})"
        val blobs = base
          .withColumn("hx", expr(
            s"CASE CAST(kind AS INT) WHEN 0 THEN $ppmHex WHEN 1 THEN $bmpHex " +
              s"WHEN 2 THEN $wavHex ELSE $corruptHex END"))
          .select(col("doc_id").as("media_id"), unhex(col("hx")).as("media"))
        graft.ops.Multimodal.extractMeta(blobs, graft.ops.Multimodal.HeaderDecoder)
          .select(col("media_id"), col("format"),
            col("width").cast(LongType), col("height").cast(LongType),
            col("n_bytes"))
          .orderBy("media_id")
      },
      Some {
        val ppmHexD = "hex('P6' || chr(10) || w::VARCHAR || ' ' || h::VARCHAR || " +
          "chr(10) || '255' || chr(10) || 'abcdef')"
        val bmpHexD = s"'424D' || ${le32D("54 + ds")} || '0000000036000000' || " +
          s"'28000000' || ${le32D("w")} || ${le32D("h")} || '01001800' || '00000000' || " +
          s"${le32D("ds")} || '00000000000000000000000000000000' || 'ABCDEF0123456789'"
        val wavHexD = s"'52494646' || ${le32D("44")} || '57415645666D742010000000' || " +
          s"'0100' || ${le16D("ch")} || ${le32D("rate")} || ${le32D("rate * ch * 2")} || " +
          s"${le16D("ch * 2")} || '1000' || '64617461' || ${le32D("8")} || '00400080FF7F0180'"
        val corruptHexD = s"${hbD("doc_id % 256")} || ${hbD("(doc_id * 7) % 256")}"
        s"""WITH b AS (SELECT doc_id, doc_id % 4 AS kind,
           |  doc_id % 37 + 1 AS w, doc_id % 23 + 1 AS h,
           |  (doc_id % 50) * 100 + 8000 AS rate, doc_id % 2 + 1 AS ch,
           |  ((w * 3 + 3) // 4) * 4 * h AS ds
           |  FROM documents WHERE doc_id < 20),
           |hxt AS (SELECT doc_id, kind, CASE kind::INT
           |    WHEN 0 THEN $ppmHexD WHEN 1 THEN $bmpHexD
           |    WHEN 2 THEN $wavHexD ELSE $corruptHexD END AS hx FROM b)
           |SELECT doc_id AS media_id,
           |  CASE kind WHEN 0 THEN 'image/ppm' WHEN 1 THEN 'image/bmp'
           |    WHEN 2 THEN 'audio/wav'
           |    ELSE CASE WHEN ${byteAtD(0)} % 2 = 0 THEN 'img/fake-rgb'
           |      ELSE 'img/fake-gray' END END AS format,
           |  CASE kind
           |    WHEN 0 THEN CAST(regexp_extract(decode(unhex(hx)), 'P6\\n(\\d+) (\\d+)', 1) AS BIGINT)
           |    WHEN 1 THEN ${leFieldD(18, 4)}
           |    WHEN 2 THEN ${leFieldD(24, 4)}
           |    ELSE 16 + ${byteAtD(0)} % 64 END AS width,
           |  CASE kind
           |    WHEN 0 THEN CAST(regexp_extract(decode(unhex(hx)), 'P6\\n(\\d+) (\\d+)', 2) AS BIGINT)
           |    WHEN 1 THEN ${leFieldD(22, 4)}
           |    WHEN 2 THEN ${leFieldD(22, 2)}
           |    ELSE 16 + ${byteAtD(1)} % 64 END AS height,
           |  CAST(len(hx) // 2 AS BIGINT) AS n_bytes
           |FROM hxt ORDER BY media_id""".stripMargin
      }),

    // TF-IDF keyword extraction: top-3 most distinctive tokens per doc —
    // the keyword-tagging op a training-data pipeline runs after cleaning.
    // Scoring stays log-free (tf × N / df): tf·N is an exact integer on
    // both engines and the single double division is deterministic IEEE,
    // where ln()'s last-ulp could differ between libms. The per-doc top-3
    // runs through TopKStringsAggregator — like x11/x13, a ≤k bounded
    // buffer through a hash aggregate, so no (docs × vocab)-sized ranking
    // sort exists and each partition ships ≤3 rows per doc (ties break by
    // token ascending in both engines). The df side joins tf on token —
    // |vocab|-sized, hash join. Plan pinned in PlanShapeSpec.
    QueryDef(
      "x28_tfidf_keywords",
      (s, d) => {
        val topk = udaf(new graft.functions.TopKStringsAggregator(3))
        val toks = documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
        tf.join(dfT, Seq("tok"))
          .crossJoin(broadcast(n))
          .withColumn("score", col("tf") * col("n_docs") / col("df"))
          .groupBy("doc_id")
          .agg(topk(col("score"), col("tok")).as("top"))
          .select(col("doc_id"), posexplode(col("top")))
          .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("rn"),
            col("col._2").as("keyword"), round(col("col._1"), 6).as("score"))
          .orderBy("doc_id", "rn")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
              |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY 1, 2),
              |dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              |n AS (SELECT count(*) AS n_docs FROM documents),
              |sc AS (SELECT tf.doc_id, tf.tok, tf.tf * n.n_docs / dfx.df AS score
              |  FROM tf JOIN dfx USING (tok) CROSS JOIN n),
              |r AS (SELECT doc_id, tok, score,
              |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rn FROM sc)
              |SELECT doc_id, rn, tok AS keyword, round(score, 6) AS score
              |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    // Numeric-column outlier detection (the data-QA sweep x20's profile
    // feeds): per-group exact two-pass z-scores. Scale shape: one hash
    // aggregate for the moments, the per-group stats BROADCAST back, and
    // the outlier test is a narrow scan — no window, no second shuffle of
    // the fact table. Cross-engine float discipline: values quantize to
    // cents first (floor(x·100) — identical doubles → identical longs), so
    // Σq is an exact long and Σq² an exact decimal/int128; means/variances
    // then derive from the SAME exact integers through the SAME IEEE ops
    // (mean·mean, never pow() — Java's and C's pow may differ in the last
    // ulp), making even the boundary comparison |q−mean| > 2σ engine-exact.
    QueryDef(
      "x29_outlier_counts",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast(LongType).as("q"))
        val stats = li.groupBy(col("l_returnflag").as("g"))
          // BOTH sums go through Decimal(38,0): Spark's sum(LONG) wraps
          // silently on overflow while DuckDB's sum(BIGINT) promotes to
          // HUGEINT, and at 100 TB per-group Σq genuinely approaches 2^63 —
          // the "exact integer moments" claim must hold where it matters
          .agg(count(lit(1)).as("n"),
            sum(col("q").cast(DecimalType(38, 0))).as("sq"),
            sum((col("q") * col("q")).cast(DecimalType(38, 0))).as("sqq"))
          .select(col("g"), col("n"),
            (col("sq").cast(DoubleType) / col("n")).as("mean_q"),
            (col("sqq").cast(DoubleType) / col("n")).as("eq2"))
          .select(col("g"), col("n"), col("mean_q"),
            sqrt(col("eq2") - col("mean_q") * col("mean_q")).as("std_q"))
        li.join(broadcast(stats), li("l_returnflag") === stats("g"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).cast(LongType).as("n_rows"),
            sum(when(abs(col("q") - col("mean_q")) > lit(2.0) * col("std_q"), 1L)
              .otherwise(0L)).as("n_outliers"),
            round(max(when(col("std_q") > 0,
              abs(col("q") - col("mean_q")) / col("std_q")).otherwise(lit(0.0))), 6)
              .as("max_z"))
          .orderBy("l_returnflag")
      },
      Some("""WITH q AS (SELECT l_returnflag AS g,
             |  CAST(floor(l_extendedprice * 100) AS BIGINT) AS q FROM lineitem),
             |m AS (SELECT g, count(*) AS n, sum(q) AS sq, sum(q * q) AS sqq FROM q GROUP BY g),
             |st AS (SELECT g, n, CAST(sq AS DOUBLE) / n AS mean_q,
             |  CAST(sqq AS DOUBLE) / n AS eq2 FROM m),
             |sd AS (SELECT g, n, mean_q, sqrt(eq2 - mean_q * mean_q) AS std_q FROM st)
             |SELECT q.g AS l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(CASE WHEN abs(q.q - sd.mean_q) > 2.0 * sd.std_q THEN 1 END) AS BIGINT) AS n_outliers,
             |  round(max(CASE WHEN sd.std_q > 0
             |    THEN abs(q.q - sd.mean_q) / sd.std_q ELSE 0.0 END), 6) AS max_z
             |FROM q JOIN sd USING (g) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sliding-window token chunking — the canonical LLM-training prep step
    // (context-window-sized pieces with overlap). A window starts at every
    // stride offset below the token count; the tail window may be short.
    // Scale posture: a pure NARROW op — explode over per-row start offsets,
    // slice, hash; zero shuffle before the gate's ORDER BY, so it composes
    // into any scan pipeline for free and parallelizes by input split.
    QueryDef(
      "x30_chunking",
      (s, d) => {
        val size_ = 32
        val stride = 24
        documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 1)
          .select(col("doc_id"), col("tk"),
            explode(sequence(lit(0), size(col("tk")) - 1, lit(stride))).as("start"))
          .select(col("doc_id"),
            (col("start") / stride).cast(LongType).as("chunk_id"),
            slice(col("tk"), col("start") + 1, lit(size_)).as("chunk"))
          .select(col("doc_id"), col("chunk_id"),
            size(col("chunk")).cast(LongType).as("n_tokens"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
          .orderBy("doc_id", "chunk_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              |st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS start
              |  FROM toks WHERE len(tk) >= 1)
              |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
              |  CAST(len(list_slice(tk, start + 1, start + 32)) AS BIGINT) AS n_tokens,
              |  md5(array_to_string(list_slice(tk, start + 1, start + 32), ' ')) AS chunk_hash
              |FROM st ORDER BY doc_id, chunk_id""".stripMargin)),

    // Stratified deterministic sampling: a fixed FRACTION per stratum
    // (lang), members chosen by hash rank — reproducible across runs and
    // engines, and every stratum hits its quota exactly (Bernoulli hash
    // splits like x17 only hit it in expectation). Scale posture: the
    // shuffle is by stratum and the per-stratum sort is the real cost; at
    // 100 TB with billions of rows per stratum the library swaps the exact
    // rank for a hash-threshold estimated from a quantile sketch — the
    // exact form is the oracle-checkable contract.
    QueryDef(
      "x31_stratified_sample",
      (s, d) => {
        val rankW = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
        val langW = Window.partitionBy("lang")
        documents(s, d)
          .select(col("lang"), col("doc_id"),
            md5(concat(col("doc_id").cast("string"), lit(":strat"))).as("h"))
          .withColumn("rn", row_number().over(rankW))
          .withColumn("n_lang", count(lit(1)).over(langW))
          .filter(col("rn") <= ceil(col("n_lang") * 0.2))
          .select(col("lang"), col("doc_id"), col("rn").cast(LongType).as("rank_in_lang"))
          .orderBy("lang", "rank_in_lang")
      },
      Some("""WITH h AS (SELECT lang, doc_id,
             |  md5(doc_id::VARCHAR || ':strat') AS h FROM documents),
             |r AS (SELECT lang, doc_id,
             |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
             |  count(*) OVER (PARTITION BY lang) AS n_lang FROM h)
             |SELECT lang, doc_id, CAST(rn AS BIGINT) AS rank_in_lang FROM r
             |WHERE rn <= ceil(n_lang * 0.2) ORDER BY lang, rank_in_lang""".stripMargin)),

    // Boilerplate detection (CCNet-style, per-source): a token is
    // boilerplate for a source when it appears in ≥90% of that source's
    // documents AND in at least 3 of them (nav menus, footers,
    // disclaimers); each doc reports how much of it is boilerplate. The
    // absolute-support floor is what keeps the flagged set bounded: without
    // it every 1–2-document source (the long tail of crawl data) flags its
    // ENTIRE vocabulary — a broadcast set proportional to corpus
    // vocabulary, not to genuine boilerplate. Scale posture: the df table
    // is one distinct + one hash agg (shuffles by (doc,tok) then
    // (source,tok)); the flagged set — high-df tokens of multi-doc sources
    // only — broadcasts back, so the 100 TB token stream is scanned once
    // and never shuffled for the marking pass; final agg is by doc_id.
    // The df≥max(3, 0.9·n_docs) floor bounds the flagged set heuristically,
    // not structurally — a corpus of many large near-template sources could
    // still exceed driver memory under the forced broadcast; a production
    // caller should count bp first and fall back to a shuffled join above
    // a row threshold (the broadcast is kept here because the gate corpus
    // is known-small and the plan pin asserts the single-scan shape).
    QueryDef(
      "x32_boilerplate",
      (s, d) => {
        val doc = documents(s, d)
        val toks = doc.select(col("doc_id"), col("source"),
          explode(tokens(col("text"))).as("tok"))
        val dfq = toks.distinct().groupBy("source", "tok")
          .agg(count(lit(1)).as("df"))
        val nDocs = doc.groupBy("source").agg(count(lit(1)).as("n_docs"))
        val bp = dfq.join(broadcast(nDocs), "source")
          .filter(col("df") >= greatest(lit(3.0), col("n_docs") * 0.9))
          .select(col("source"), col("tok"), lit(1L).as("is_bp"))
        toks.join(broadcast(bp), Seq("source", "tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(coalesce(col("is_bp"), lit(0L))).as("n_bp"))
          .select(col("doc_id"), col("n_tokens").cast(LongType).as("n_tokens"),
            col("n_bp").cast(LongType).as("n_bp"),
            (col("n_bp").cast(DoubleType) / col("n_tokens")).as("bp_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, unnest($tokensSql) AS tok
              |  FROM documents),
              |dfq AS (SELECT source, tok, count(DISTINCT doc_id) AS df
              |  FROM toks GROUP BY 1, 2),
              |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
              |bp AS (SELECT source, tok FROM dfq JOIN nd USING (source)
              |  WHERE df >= greatest(3.0, n_docs * 0.9))
              |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(count(b.tok) AS BIGINT) AS n_bp,
              |  count(b.tok) * 1.0 / count(*) AS bp_ratio
              |FROM toks t LEFT JOIN bp b ON t.source = b.source AND t.tok = b.tok
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Symmetric int8 embedding quantization (the storage/serving form of a
    // 100 TB vector corpus): per vector, scale = max|x|/127, q = clamp(
    // floor(x/scale)), plus the total quantization error in exact nanos.
    // Float→double widening is exact and both engines then run the SAME
    // IEEE ops (one divide, one floor) — bit-identical without any decimal
    // crutch. Scale posture: explode + ONE shuffle by vec_id, where the
    // window max, the quantization, and the final agg all run inside the
    // same partitioning — no join, no second exchange, no broadcast of a
    // table that is huge at scale.
    QueryDef(
      "x33_embed_quantize",
      (s, d) => {
        val byVec = Window.partitionBy("vec_id")
        embeddings(s, d)
          .select(col("vec_id"), explode(col("embedding")).as("xf"))
          .select(col("vec_id"), col("xf").cast(DoubleType).as("x"))
          .repartition(col("vec_id"))
          .withColumn("amax", max(abs(col("x"))).over(byVec))
          .withColumn("q",
            when(col("amax") === 0.0, 0L).otherwise(
              greatest(least(floor(col("x") / (col("amax") / 127.0)).cast(LongType),
                lit(127L)), lit(-127L))))
          .withColumn("err", col("x") - col("q") * (col("amax") / 127.0))
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_dims"),
            sum(col("q")).as("sum_q"),
            min(col("q")).as("min_q"),
            max(col("q")).as("max_q"),
            sum(floor(col("err") * 1e9).cast(LongType)).as("err_nanos"))
          .select(col("vec_id"), col("n_dims").cast(LongType).as("n_dims"),
            col("sum_q").cast(LongType).as("sum_q"), col("min_q"), col("max_q"),
            col("err_nanos").cast(LongType).as("err_nanos"))
          .orderBy("vec_id")
      },
      Some("""WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings),
             |w AS (SELECT vec_id, x, max(abs(x)) OVER (PARTITION BY vec_id) AS amax FROM ex),
             |qx AS (SELECT vec_id, x, amax,
             |  CASE WHEN amax = 0 THEN 0
             |    ELSE greatest(least(CAST(floor(x / (amax / 127.0)) AS BIGINT), 127), -127)
             |  END AS q FROM w)
             |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
             |  CAST(sum(q) AS BIGINT) AS sum_q,
             |  CAST(min(q) AS BIGINT) AS min_q, CAST(max(q) AS BIGINT) AS max_q,
             |  CAST(sum(CAST(floor((x - q * (amax / 127.0)) * 1e9) AS BIGINT)) AS BIGINT) AS err_nanos
             |FROM qx GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cross-corpus n-gram novelty: the fraction of a document's distinct
    // word 3-grams whose FIRST occurrence (min doc_id — ingestion order) is
    // the document itself. Clones score ~0, fresh text ~1 — the dedup-aware
    // "is this new content" signal a crawl pipeline ranks by. Runs over the
    // cloned corpus so both extremes exist. Scale posture: repartition by
    // shingle once, then the distinct AND the window-min run inside that
    // one exchange (subset rule: hash(sh) clusters (doc_id, sh)); one more
    // shuffle for the per-doc rollup. No join — the window-min replaces the
    // index-self-join formulation and halves the shuffled bytes.
    QueryDef(
      "x34_ngram_novelty",
      (s, d) => {
        val bySh = Window.partitionBy("sh")
        docCorpus(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(graft.ops.TextDedup.shingles(col("tk"))).as("sh"))
          .repartition(col("sh"))
          .distinct()
          .withColumn("first_doc", min(col("doc_id")).over(bySh))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_shingles").cast(LongType).as("n_shingles"),
            col("n_novel").cast(LongType).as("n_novel"),
            (col("n_novel").cast(DoubleType) / col("n_shingles")).as("novelty"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $corpusSql,
              |toks AS (SELECT doc_id, $tokensSql AS tk FROM corpus),
              |shu AS (SELECT doc_id, unnest($shinglesSql) AS sh FROM toks WHERE len(tk) >= 3),
              |shx AS (SELECT DISTINCT doc_id, sh FROM shu),
              |f AS (SELECT doc_id, sh, min(doc_id) OVER (PARTITION BY sh) AS first_doc FROM shx)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
              |  CAST(count(CASE WHEN first_doc = doc_id THEN 1 END) AS BIGINT) AS n_novel,
              |  count(CASE WHEN first_doc = doc_id THEN 1 END) * 1.0 / count(*) AS novelty
              |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The COMPOSED curation pipeline (ops.Curation.curate): quality score →
    // threshold filter → exact dedup (min-id survivor per identical text) →
    // deterministic hash split, as the one library call a training-data
    // workflow starts from. The stages are individually gated (x09, x01,
    // x17); this row gates their COMPOSITION — filter-before-shuffle order,
    // survivor selection among only the quality-passing copies, and split
    // assigned on the survivor's id. Runs over the cloned corpus so the
    // dedup stage has real work. Scale posture: narrow score/filter pass →
    // ONE content exchange (window-min, no self-join) → narrow split.
    QueryDef(
      "x35_curation",
      (s, d) =>
        graft.ops.Curation.curate(docCorpus(s, d), minQuality = 0.38, trainFrac = 0.8)
          .select(col("doc_id"), col("quality_score"), col("split"))
          .orderBy("doc_id"),
      Some(s"""WITH $corpusSql,
              |t AS (SELECT doc_id, n_chars, text, $tokensSql AS tk FROM corpus),
              |m AS (SELECT doc_id, text,
              |  CAST(len(tk) AS BIGINT) AS n_tokens,
              |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
              |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_punct,
              |  n_chars FROM t),
              |r AS (SELECT doc_id, text,
              |  round(0.4 * round(n_stop / CAST(n_tokens AS DOUBLE), 6)
              |    + 0.3 * (least(n_tokens, 100) / 100.0)
              |    + 0.2 * (1.0 - round(n_punct / CAST(n_chars AS DOUBLE), 6)), 6) AS quality_score
              |  FROM m),
              |q AS (SELECT doc_id, text, quality_score FROM r WHERE quality_score >= 0.38),
              |sv AS (SELECT doc_id, quality_score,
              |  min(doc_id) OVER (PARTITION BY text) AS keep FROM q)
              |SELECT doc_id, quality_score,
              |  CASE WHEN substring(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'cccccccc'
              |    THEN 'train' ELSE 'val' END AS split
              |FROM sv WHERE doc_id = keep ORDER BY doc_id""".stripMargin)),

    // REAL PNG decode, oracle-gated end to end (x27's dual-dialect builder
    // pattern, extended to a COMPRESSED container): each doc_id < 24
    // becomes a deterministic PNG — 8-bit gray / 8-bit RGB / corrupt IDAT
    // CRC / invalid-filter-byte-5 rows, by doc_id % 4 — whose zlib stream uses
    // STORED deflate blocks, so both engines can construct it byte-by-byte
    // in SQL with no codec anywhere. Spark additionally computes the REAL
    // CRC-32 (builtin crc32) and Adler-32 (exact integer sums over the
    // payload formula) so its blob is a VALID PNG, then decodes it through
    // Multimodal.Png: JDK Inflater (which verifies that Adler), chunk-CRC
    // validation (which rejects the kind-2 corruption), filter-range
    // validation (which rejects kind 3's out-of-spec filter byte 5 — real
    // FILTERED rows are in scope since x102). DuckDB never parses checksum
    // fields — it
    // re-extracts width/height/bit-depth (big-endian IHDR reads) and the
    // pixel bytes (stored-block scanline arithmetic at byte 48) from the
    // same hex layout, with checksum placeholders zeroed. A decoder bug in
    // inflation, unfiltering, offsets, or CRC policy breaks the hash match.
    QueryDef(
      "x36_png_decode",
      (s, d) => {
        val pix = "CASE WHEN p % stride = 0 THEN CAST(CASE WHEN kind = 3 THEN 5 ELSE 0 END AS BIGINT) " +
          "ELSE (doc_id * 13 + p * 7) % 256 END"
        val base = documents(s, d).filter(col("doc_id") < 24)
          .select(col("doc_id"), (col("doc_id") % 4).as("kind"),
            (col("doc_id") % 5 + 1).cast(LongType).as("w"),
            (col("doc_id") % 3 + 1).cast(LongType).as("h"))
          .withColumn("bpp", expr("CASE WHEN kind = 1 THEN CAST(3 AS BIGINT) ELSE CAST(1 AS BIGINT) END"))
          .withColumn("stride", expr("1 + w * bpp"))
          .withColumn("L", expr("h * stride"))
          .withColumn("payload_hex",
            expr(s"array_join(transform(sequence(CAST(0 AS BIGINT), L - 1), p -> ${hbS(pix)}), '')"))
          // Adler-32 over the payload: A = (1 + Σb) mod 65521,
          // B = (L + Σ(L−p)·b_p) mod 65521 — exact integer sums, so the
          // SQL-built checksum is the one the JDK Inflater then verifies
          .withColumn("adler", expr(
            s"((L + aggregate(sequence(CAST(0 AS BIGINT), L - 1), CAST(0 AS BIGINT), " +
              s"(acc, p) -> acc + (L - p) * ($pix))) % 65521) * 65536 + " +
              s"(1 + aggregate(sequence(CAST(0 AS BIGINT), L - 1), CAST(0 AS BIGINT), " +
              s"(acc, p) -> acc + ($pix))) % 65521"))
          .withColumn("zlib_hex", expr(
            s"concat('780101', ${le16S("L")}, ${le16S("65535 - L")}, payload_hex, ${be32S("adler")})"))
          .withColumn("ihdr_hex", expr(
            s"concat(${be32S("w")}, ${be32S("h")}, '08', " +
              "CASE WHEN kind = 1 THEN '02' ELSE '00' END, '000000')"))
          .withColumn("crc_idat", expr(
            "CASE WHEN kind = 2 THEN crc32(unhex(concat('49444154', zlib_hex))) ^ 255 " +
              "ELSE crc32(unhex(concat('49444154', zlib_hex))) END"))
          .withColumn("hx", expr(
            s"concat('89504E470D0A1A0A', '0000000D49484452', ihdr_hex, " +
              s"${be32S("crc32(unhex(concat('49484452', ihdr_hex)))")}, " +
              s"${be32S("L + 11")}, '49444154', zlib_hex, ${be32S("crc_idat")}, " +
              "'0000000049454E44AE426082')"))
        graft.ops.Multimodal.pngMeta(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .select(col("media_id"), col("format"), col("width"), col("height"),
            col("bit_depth"), col("pixel_hex"))
          .orderBy("media_id")
      },
      Some {
        val pixD = "CASE WHEN q % stride = 0 THEN (CASE WHEN kind = 3 THEN 5 ELSE 0 END) " +
          "ELSE (doc_id * 13 + q * 7) % 256 END"
        s"""WITH b AS (SELECT doc_id, doc_id % 4 AS kind,
           |  CAST(doc_id % 5 + 1 AS BIGINT) AS w, CAST(doc_id % 3 + 1 AS BIGINT) AS h,
           |  CAST(CASE WHEN doc_id % 4 = 1 THEN 3 ELSE 1 END AS BIGINT) AS bpp
           |  FROM documents WHERE doc_id < 24),
           |p AS (SELECT *, 1 + w * bpp AS stride, h * (1 + w * bpp) AS L FROM b),
           |hxt AS (SELECT doc_id, kind, w, h, bpp, stride, L,
           |  '89504E470D0A1A0A' || '0000000D49484452' ||
           |  ${be32D("w")} || ${be32D("h")} || '08' ||
           |  CASE WHEN kind = 1 THEN '02' ELSE '00' END || '000000' || '00000000' ||
           |  ${be32D("L + 11")} || '49444154' || '780101' ||
           |  ${le16D("L")} || ${le16D("65535 - L")} ||
           |  array_to_string(list_transform(range(0, L), q -> ${hbD(pixD)}), '') ||
           |  '00000000' || '00000000' || '0000000049454E44AE426082' AS hx FROM p)
           |SELECT doc_id AS media_id,
           |  CASE WHEN kind IN (2, 3) THEN
           |      CASE WHEN ${byteAtD(0)} % 2 = 0 THEN 'img/fake-rgb' ELSE 'img/fake-gray' END
           |    WHEN kind = 1 THEN 'image/png-rgb' ELSE 'image/png-gray' END AS format,
           |  CAST(CASE WHEN kind IN (2, 3) THEN 16 + ${byteAtD(0)} % 64
           |    ELSE ${beFieldD(16, 4)} END AS BIGINT) AS width,
           |  CAST(CASE WHEN kind IN (2, 3) THEN 16 + ${byteAtD(1)} % 64
           |    ELSE ${beFieldD(20, 4)} END AS BIGINT) AS height,
           |  CAST(CASE WHEN kind IN (2, 3) THEN NULL
           |    ELSE ${byteAtD(24)} END AS BIGINT) AS bit_depth,
           |  CASE WHEN kind IN (2, 3) THEN NULL
           |    ELSE array_to_string(list_transform(range(0, h),
           |      r -> substr(hx, (99 + r * stride * 2)::INT, (w * bpp * 2)::INT)), '')
           |  END AS pixel_hex
           |FROM hxt ORDER BY media_id""".stripMargin
      }),

    // APPROXIMATE profiling — the 100 TB form of x20. Sketch outputs can't
    // be hash-compared across engines (each engine's HLL/quantile digest
    // differs), so the gate pins the ERROR CONTRACT instead: the Spark side
    // computes both the sketches and the exact answers and emits per-column
    // booleans — nd_ok: approx_count_distinct(rsd=0.02) within 5% of exact
    // (±2.5σ of the documented rsd); md_ok: approx_percentile(accuracy
    // 2000, rank error ≤ 5e-4 — round 13 sized the sketch to the contract:
    // 20× inside the ±1% band below, a 5× smaller per-task GK state than
    // the former 10000) verified by RANK, tie-safely — count(v <
    // m)/n ≤ 0.5+ε and count(v ≤ m)/n ≥ 0.5−ε with ε = 0.01, because on
    // tied data (l_quantity has ~50 distinct values) no value-space or
    // one-sided-rank check is guaranteed to hold. The oracle recomputes the
    // exact columns and asserts the booleans TRUE — a sketch drifting out
    // of contract fails the row. Plan shape is the one a 100 TB profile
    // actually runs: ONE tall stack scan → one grouped pass (sketches +
    // algebraic stats), plus a rank-verification pass joining the tiny
    // per-column medians back by broadcast; the exact n_distinct/median
    // machinery here is the verification harness, not the scale path — a
    // production caller keeps only the sketch columns and skips pass two.
    QueryDef(
      "x37_profile_approx",
      (s, d) => {
        val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        val stackExpr = s"stack(${cols.size}, " +
          cols.map(c => s"'$c', $c").mkString(", ") + ") AS (col_name, v)"
        val tall = lineitem(s, d).selectExpr(stackExpr)
        // PLAN TRAP, measured: countDistinct must NOT share an agg with the
        // object-backed sketches. Spark's single-distinct rewrite makes
        // every co-located aggregate partial-evaluate per (col_name, v)
        // group — ~600k QuantileSummaries/HLL buffers instead of 4 — which
        // ran 48 s where this split shape runs ~3.5 s at sf0.1. So: pass 1
        // is the pure sketch+algebraic profile (the ONLY pass a production
        // caller runs — codegen stats + two sketch buffers per column,
        // 1.5 s); pass 2 fuses the exact-distinct and rank verification
        // into one agg of codegen-safe aggregates (two-stage distinct over
        // plain sums is the normal cheap plan), consuming pass 1's medians
        // by broadcast from the 4-row checkpoint (without the checkpoint
        // each consumer re-runs the sketch aggregation).
        val agg = tall.groupBy("col_name").agg(
          count(lit(1)).as("n_rows"),
          count(col("v")).as("n_non_null"),
          round(min(col("v")).cast(DoubleType), 6).as("min_v"),
          round(max(col("v")).cast(DoubleType), 6).as("max_v"),
          round(dsum(col("v")).cast(DoubleType) / count(col("v")), 6).as("mean_v"),
          approx_count_distinct(col("v"), 0.02).as("nd_approx"),
          expr("approx_percentile(v, 0.5, 2000)").as("md_approx"))
          .localCheckpoint(eager = true)
        // pass 2 pre-aggregates to (col_name, v, cnt): the map-side partial
        // collapses duplicate values BEFORE the exchange (l_quantity/
        // discount/tax have O(10) distinct values), and one value-grouped
        // frame then serves the exact-distinct count AND the rank sums —
        // where a countDistinct co-located with the conditional sums makes
        // Spark's single-distinct rewrite push every tall row through the
        // shuffle (measured at 10×: 7.0 → 5.0 s; sf0.1 unchanged, where
        // the pass-1 sketch aggregation dominates)
        val verify = tall.filter(col("v").isNotNull)
          .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
          .join(broadcast(agg.select(col("col_name"), col("md_approx"))), "col_name")
          .groupBy("col_name").agg(
            count(lit(1)).as("n_distinct"),
            sum(when(col("v") < col("md_approx"), col("cnt")).otherwise(0L)).as("n_lt"),
            sum(when(col("v") <= col("md_approx"), col("cnt")).otherwise(0L)).as("n_le"),
            sum(col("cnt")).as("n_v"))
        agg.join(verify, "col_name")
          .select(col("col_name").as("column"), col("n_rows"), col("n_non_null"),
            col("n_distinct"), col("min_v"), col("max_v"), col("mean_v"),
            (abs(col("nd_approx") - col("n_distinct")) <=
              greatest(lit(1.0), col("n_distinct") * 0.05)).as("nd_ok"),
            (col("n_lt") <= (lit(0.51) * col("n_v")) &&
              col("n_le") >= (lit(0.49) * col("n_v"))).as("md_ok"))
          .orderBy("column")
      },
      Some {
        val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        val tall = cols
          .map(c => s"SELECT '$c' AS col_name, $c AS v FROM lineitem")
          .mkString("\nUNION ALL\n")
        s"""WITH t AS ($tall)
           |SELECT col_name AS "column", count(*) AS n_rows, count(v) AS n_non_null,
           |  count(DISTINCT v) AS n_distinct,
           |  round(CAST(min(v) AS DOUBLE), 6) AS min_v,
           |  round(CAST(max(v) AS DOUBLE), 6) AS max_v,
           |  round(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / count(v), 6) AS mean_v,
           |  TRUE AS nd_ok, TRUE AS md_ok
           |FROM t GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // NEAR-DUP-aware composed curation: x35's pipeline with the dedup stage
    // upgraded from identical-text to LSH COMPONENT — quality filter →
    // survivor = min doc_id over the near-dup component among the
    // quality-passing members (TextDedup.dedupMapping consumed between the
    // filter and split stages) → deterministic split. Gated over the cloned
    // corpus so components have real multi-doc structure. The pair frame is
    // the session-shared one (x18 publishes it; standalone sessions build
    // it once here) — the 100 TB shape: materialize pairs once, fan out to
    // dedup, components, and curation. The oracle recomputes the components
    // with the x18 recursive CTE and the quality/split formulas with the
    // x35 SQL, so the COMPOSITION (filter-before-dedup ordering, component
    // survivor choice, split on the survivor's id) is engine-checked.
    QueryDef(
      "x38_curation_neardup",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val pairs = lshPairsShared(s, d, corpus)
        val mapping = graft.ops.TextDedup.dedupMappingFromPairs(corpus, pairs)
        graft.ops.Curation
          .curate(corpus, minQuality = 0.38, trainFrac = 0.8,
            nearDupMapping = Some(mapping))
          .select(col("doc_id"), col("quality_score"), col("split"))
          .orderBy("doc_id")
      },
      Some(s"""$dedupComponentsCtes,
              |t AS (SELECT doc_id, n_chars, text, $tokensSql AS tk FROM corpus),
              |m2 AS (SELECT doc_id,
              |  CAST(len(tk) AS BIGINT) AS n_tokens,
              |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
              |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_punct,
              |  n_chars FROM t),
              |r AS (SELECT doc_id,
              |  round(0.4 * round(n_stop / CAST(n_tokens AS DOUBLE), 6)
              |    + 0.3 * (least(n_tokens, 100) / 100.0)
              |    + 0.2 * (1.0 - round(n_punct / CAST(n_chars AS DOUBLE), 6)), 6) AS quality_score
              |  FROM m2),
              |q AS (SELECT doc_id, quality_score FROM r WHERE quality_score >= 0.38),
              |sv AS (SELECT q.doc_id, q.quality_score,
              |  min(q.doc_id) OVER (PARTITION BY c.canonical_id) AS keep
              |  FROM q JOIN cmap c ON q.doc_id = c.doc_id)
              |SELECT doc_id, quality_score,
              |  CASE WHEN substring(md5(doc_id::VARCHAR || ':split'), 1, 8) < 'cccccccc'
              |    THEN 'train' ELSE 'val' END AS split
              |FROM sv WHERE doc_id = keep ORDER BY doc_id""".stripMargin)),

    // Contamination at the 100 TB posture: x19's exact semi-join with the
    // benchmark side carried as a broadcast BLOOM FILTER (~10 bits/shingle
    // regardless of shingle width) + a narrow mightContain prefilter, then
    // an exact confirm join over only the surviving candidates (see
    // ops/BloomJoin.scala for the full posture argument). The prefilter
    // sits UPSTREAM of the (doc_id, sh) dedup exchange — unlike x19, where
    // the distinct shuffles EVERY corpus shingle, here both wide ops
    // (distinct and confirm join) see only the candidate fraction; the
    // non-matching bulk of the corpus dies in the narrow scan stage.
    // Blooms have no false negatives and the confirm kills the false
    // positives, so the answer is BIT-IDENTICAL to x19 — gated by the SAME
    // oracle SQL, which is exactly the point: the scale path must not
    // change the answer.
    QueryDef(
      "x39_contamination_bloom",
      (s, d) => {
        val all = documents(s, d)
        def shingles(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(graft.ops.TextDedup.shingles(col("tk"))).as("sh"))
        val bench = shingles(all.filter(col("doc_id") < 50)).select("sh").distinct()
        // expectedItems bounds the BENCH side (fixed id range → bounded set);
        // an underestimate only raises realized fpp, never drops a member
        graft.ops.BloomJoin
          .semiJoin(shingles(all.filter(col("doc_id") >= 50)), bench, "sh",
            expectedItems = 1L << 14, fpp = 0.01)
          .distinct()
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              |sh AS (SELECT DISTINCT doc_id, sh FROM (
              |  SELECT doc_id, unnest($shinglesSql) AS sh FROM t WHERE len(tk) >= 3) u),
              |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50)
              |SELECT s.doc_id, count(*) AS n_shared FROM sh s JOIN bench b ON s.sh = b.sh
              |WHERE s.doc_id >= 50 GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // REAL audio decode-and-featurize: deterministic PCM16 WAVs are built
    // byte-identically in BOTH engines (x27's dual-dialect hex-builder
    // pattern, sample i = (doc_id*7919 + i*104729) mod 2^16 stored s16le),
    // Spark decodes them through Multimodal.pcmFeatures — a REAL chunk-walk
    // + two's-complement sample parse (ops/Multimodal.scala pcm16Samples) —
    // and DuckDB independently re-parses the sample count from the data-size
    // header field and every sample from the hex bytes, then recomputes the
    // same integer features (sum of squares / peak / zero crossings — all
    // integer-exact, so cross-engine hashable). Corrupt rows (kind 4)
    // exercise the valid=false fallback. The decode is a narrow per-row
    // map: zero shuffle before the final ORDER BY.
    QueryDef(
      "x40_audio_features",
      (s, d) => {
        val base = documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id"),
            (col("doc_id") % 5).as("kind"),
            ((col("doc_id") % 29) + 4).cast("int").as("n"),
            ((col("doc_id") % 50) * 100 + 8000).cast("int").as("rate"))
        val sampHex = "aggregate(sequence(0, n - 1), '', (acc, i) -> concat(acc, " +
          le16S("(doc_id * 7919 + i * 104729) % 65536") + "))"
        val wavHex = s"concat('52494646', ${le32S("36 + 2 * n")}, " +
          s"'57415645666D742010000000', '01000100', ${le32S("rate")}, " +
          s"${le32S("rate * 2")}, '02001000', '64617461', ${le32S("2 * n")}, $sampHex)"
        val corruptHex = s"concat(${hbS("doc_id % 256")}, ${hbS("(doc_id * 11) % 256")})"
        val blobs = base
          .withColumn("hx", expr(
            s"CASE WHEN CAST(kind AS INT) = 4 THEN $corruptHex ELSE $wavHex END"))
          .select(col("doc_id").as("media_id"), unhex(col("hx")).as("media"))
        graft.ops.Multimodal.pcmFeatures(blobs)
          .select(col("media_id"), col("valid"), col("n_samples"),
            col("sum_sq"), col("peak"), col("zero_crossings"))
          .orderBy("media_id")
      },
      Some {
        // hex digit value at 1-based char position `p` of hx (p may be an
        // expression — the sample offset is per-row data)
        def hAt(p: String) = s"(instr('0123456789ABCDEF', substr(hx, $p, 1)) - 1)"
        // s16le sample i: low byte at blob offset 44+2i (hex chars 89+4i,
        // 90+4i), high byte at 45+2i (chars 91+4i, 92+4i)
        val rawExpr = s"((${hAt("89 + 4*i")} * 16 + ${hAt("90 + 4*i")}) + " +
          s"256 * (${hAt("91 + 4*i")} * 16 + ${hAt("92 + 4*i")}))"
        s"""WITH b AS (SELECT doc_id, doc_id % 5 AS kind, doc_id % 29 + 4 AS n,
           |  (doc_id % 50) * 100 + 8000 AS rate FROM documents WHERE doc_id < 40),
           |idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM b),
           |samp AS (SELECT doc_id, i, (doc_id * 7919 + i * 104729) % 65536 AS sv FROM idx),
           |dh AS (SELECT doc_id, string_agg(${le16D("sv")}, '' ORDER BY i) AS dhex
           |  FROM samp GROUP BY 1),
           |hxt AS (SELECT b.doc_id, kind,
           |  CASE WHEN kind = 4 THEN ${hbD("b.doc_id % 256")} || ${hbD("(b.doc_id * 11) % 256")}
           |  ELSE '52494646' || ${le32D("36 + 2*n")} || '57415645666D742010000000' ||
           |    '01000100' || ${le32D("rate")} || ${le32D("rate * 2")} || '02001000' ||
           |    '64617461' || ${le32D("2*n")} || dhex END AS hx
           |  FROM b JOIN dh ON b.doc_id = dh.doc_id),
           |par AS (SELECT doc_id, kind, hx,
           |  CASE WHEN kind = 4 THEN 0 ELSE ${leFieldD(40, 4)} // 2 END AS ns FROM hxt),
           |sidx AS (SELECT doc_id, hx, unnest(range(0, ns)) AS i FROM par),
           |sraw AS (SELECT doc_id, i, $rawExpr AS raw FROM sidx),
           |sgn AS (SELECT doc_id, i,
           |  CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v FROM sraw),
           |zc AS (SELECT doc_id, i, v,
           |  lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM sgn),
           |feat AS (SELECT doc_id, count(*) AS n_samples, sum(v * v) AS sum_sq,
           |  max(abs(v)) AS peak,
           |  sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0)) THEN 1 ELSE 0 END)
           |    AS zero_crossings
           |  FROM zc GROUP BY 1)
           |SELECT p.doc_id AS media_id, (kind <> 4) AS valid,
           |  CAST(coalesce(f.n_samples, 0) AS BIGINT) AS n_samples,
           |  CAST(coalesce(f.sum_sq, 0) AS BIGINT) AS sum_sq,
           |  CAST(coalesce(f.peak, 0) AS BIGINT) AS peak,
           |  CAST(coalesce(f.zero_crossings, 0) AS BIGINT) AS zero_crossings
           |FROM par p LEFT JOIN feat f ON p.doc_id = f.doc_id ORDER BY media_id""".stripMargin
      }),

    // Asymmetric shingle CONTAINMENT dedup: |A∩B|/|A| (and /|B|) over the
    // same capped inverted index as x05. Jaccard misses subset duplication
    // by construction — a 12-token excerpt inside a 200-token original
    // shares ~10 shingles, Jaccard ≈ 0.05, containment(excerpt) = 1.0 —
    // and excerpt/quote/boilerplate-prefix duplication is exactly what a
    // web-scrape curation pass must catch. The gate corpus manufactures
    // true subset pairs (each doc ∪ its first-12-token truncation at
    // +20000): prefix truncation preserves the shingle-subset property, so
    // every truncated doc is a guaranteed containment-1.0 hit. Plan shape
    // is x05's: ONE shingle exchange serves dedup, df-cap, and the pair
    // self-join; hash joins/aggs throughout; the df cap bounds the
    // per-shingle pair fan-out (capped-containment semantics, the oracle
    // applies the identical cap — see x05's rationale).
    QueryDef(
      "x41_containment",
      (s, d) => {
        val doc = documents(s, d)
        val trunc = doc.select((col("doc_id") + 20000).as("doc_id"),
          array_join(slice(tokens(col("text")), 1, 12), " ").as("text"))
        val corpus = doc.select("doc_id", "text").unionByName(trunc)
        val raw = corpus
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(graft.ops.TextDedup.shingles(col("tk"))).as("sh"))
          .repartition(col("sh"))
          .dropDuplicates("doc_id", "sh")
        val dfTab = raw.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= hotShingleMaxDf).select("sh")
        val ex = raw.join(dfTab.hint("shuffle_hash"), Seq("sh"), "left_semi")
          .localCheckpoint(eager = true)
        val nTab = ex.groupBy("doc_id").agg(count(lit(1)).cast(LongType).as("n"))
        ex.as("a")
          .join(ex.as("b").hint("shuffle_hash"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("i"))
          .join(nTab.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
          .join(nTab.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
          .withColumn("cont_a", round(col("i") / col("na").cast(DoubleType), 6))
          .withColumn("cont_b", round(col("i") / col("nb").cast(DoubleType), 6))
          .filter(greatest(col("cont_a"), col("cont_b")) >= 0.9)
          .select("a_id", "b_id", "cont_a", "cont_b")
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents
              |  UNION ALL SELECT doc_id + 20000 AS doc_id,
              |    array_to_string(($tokensSql)[1:12], ' ') AS text FROM documents),
              |toks AS (SELECT doc_id, $tokensSql AS tk FROM corpus),
              |sh0 AS (SELECT DISTINCT doc_id, sh FROM (
              |  SELECT doc_id, unnest($shinglesSql) AS sh FROM toks WHERE len(tk) >= 3) u),
              |heavy AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > $hotShingleMaxDf),
              |sh AS (SELECT doc_id, sh FROM sh0 s
              |  WHERE NOT EXISTS (SELECT 1 FROM heavy h WHERE h.sh = s.sh)),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a
              |  JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
              |SELECT a_id, b_id,
              |  round(i / CAST(sa.n AS DOUBLE), 6) AS cont_a,
              |  round(i / CAST(sb.n AS DOUBLE), 6) AS cont_b
              |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
              |WHERE greatest(round(i / CAST(sa.n AS DOUBLE), 6),
              |               round(i / CAST(sb.n AS DOUBLE), 6)) >= 0.9
              |ORDER BY a_id, b_id""".stripMargin)),

    // Heavy-hitter token frequencies via a MERGEABLE count-min sketch with
    // an oracle-gated error contract (the x37 pattern for frequencies).
    // The 100 TB shape: each partition folds its tokens into a fixed
    // ~eps⁻¹-cell sketch, partials merge associatively up the tree (one
    // ~50 KB binary reaches the driver — token cardinality never does),
    // then candidates are probed against the broadcast sketch. CMS
    // guarantees estimate ≥ true and, at confidence 0.999 per probe,
    // estimate ≤ true + eps·N — both bounds CHECKED per row and asserted
    // TRUE by the oracle, which recomputes the exact counts; the seed is
    // fixed, so the gate is deterministic. The exact top-20 candidate pass
    // here is the verification harness, not the scale path (a production
    // caller feeds the probe from per-partition local top-k unions).
    QueryDef(
      "x42_freq_sketch",
      (s, d) => {
        val toks = documents(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
          .filter(length(col("tok")) > 0)
        val eps = 0.001
        // two driver-side actions, both O(1)-sized results: the merged
        // sketch binary and the scalar token total for the eps·N bound
        val skBytes = toks
          .agg(expr(s"count_min_sketch(tok, ${eps}d, 0.999d, 1)")).head().getAs[Array[Byte]](0)
        val nTotal = toks.count()
        val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(skBytes))
        val bc = s.sparkContext.broadcast(sk)
        val est = udf((t: String) => bc.value.estimateCount(t))
        val bound = math.ceil(eps * nTotal).toLong
        toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
          .orderBy(desc("n_exact"), col("tok")).limit(20)
          .withColumn("n_est", est(col("tok")))
          .select(col("tok"), col("n_exact"),
            (col("n_est") >= col("n_exact")).as("lower_ok"),
            (col("n_est") <= col("n_exact") + lit(bound)).as("upper_ok"))
          .orderBy(desc("n_exact"), col("tok"))
      },
      Some(s"""WITH toks AS (SELECT unnest($tokensSql) AS tok FROM documents),
              |t AS (SELECT tok FROM toks WHERE len(tok) > 0)
              |SELECT tok, count(*) AS n_exact, TRUE AS lower_ok, TRUE AS upper_ok
              |FROM t GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20""".stripMargin)),

    // Temperature-scaled source-mixture sampling — the "training mix" step:
    // given per-source token masses T_s, allot each source a token budget
    // proportional to T_s^(1/2) (temperature flattening: big sources are
    // downweighted, small ones upweighted, the standard move when blending
    // multi-source corpora), then select docs deterministically by hash
    // rank until the budget fills. Cross-engine determinism: sqrt is one
    // correctly-rounded IEEE op; each sqrt(T_s) is rounded to 6 dp and
    // summed as DECIMAL(38,6) (exact, associative) so the normalizer Z is
    // identical in both engines; weight = sqrt_s/Z and budget = ⌊w·B⌋ are
    // then single IEEE ops on identical doubles; the take-while itself
    // (cumulative tokens ≤ budget over md5-rank order) is all exact
    // integers. Plan shape: per-source stats are one small agg joined back
    // as a broadcast; the cumulative-sum window and the final per-source
    // rollup share ONE source exchange (the groupBy reuses the window's
    // hash partitioning). 100 TB posture: the window sorts each source's
    // docs — for a mega-source, swap the exact cumsum for a sketch-quantile
    // hash threshold (x31's documented swap); determinism is unaffected.
    QueryDef(
      "x43_mixture_sample",
      (s, d) => {
        val docs = documents(s, d)
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast(LongType).as("n_tok"),
            md5(concat(lit("mix"), col("doc_id").cast("string")).cast("binary")).as("h"))
        // sources-sized stats frame, MATERIALIZED once: tot, bud, and the
        // final rollup join all read the checkpoint — without it each
        // consumer re-derives the aggregation and the corpus is scanned
        // three times (x05's `ex` trick, applied to the small side)
        val st = docs.groupBy("source")
          .agg(sum("n_tok").as("t_s"),
            round(sqrt(sum("n_tok").cast(DoubleType)), 6)
              .cast(DecimalType(38, 6)).as("sq"))
          .localCheckpoint(eager = true)
        val tot = st.agg(sum("t_s").as("t_tot"), sum("sq").as("z"))
        val bud = st.crossJoin(broadcast(tot))
          .withColumn("w", col("sq").cast(DoubleType) / col("z").cast(DoubleType))
          .withColumn("budget_tokens",
            floor(col("w") * floor(col("t_tot").cast(DoubleType) * 0.5)).cast(LongType))
          .select(col("source"), col("t_s").cast(LongType).as("src_tokens"),
            col("budget_tokens"))
        val wCum = Window.partitionBy("source").orderBy("h", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val kept = docs.join(broadcast(bud), "source")
          .withColumn("cum", sum("n_tok").over(wCum))
          .filter(col("cum") <= col("budget_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("kept_docs"), sum("n_tok").as("kept_tokens"),
            sum("doc_id").as("kept_id_sum"))
        // kept is post-agg (≤ |sources| rows): broadcast it so the final
        // left join never plans a sort-merge of two tiny frames
        bud.join(broadcast(kept), Seq("source"), "left")
          .select(col("source"), col("src_tokens"), col("budget_tokens"),
            coalesce(col("kept_docs"), lit(0L)).cast(LongType).as("kept_docs"),
            coalesce(col("kept_tokens"), lit(0L)).cast(LongType).as("kept_tokens"),
            coalesce(col("kept_id_sum"), lit(0L)).cast(LongType).as("kept_id_sum"))
          .orderBy("source")
      },
      Some(s"""WITH tk AS (SELECT doc_id, source, len($tokensSql) AS n_tok,
              |  md5('mix' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
              |st AS (SELECT source, sum(n_tok) AS t_s,
              |  CAST(round(sqrt(CAST(sum(n_tok) AS DOUBLE)), 6) AS DECIMAL(38,6)) AS sq
              |  FROM tk GROUP BY 1),
              |tot AS (SELECT sum(t_s) AS t_tot, sum(sq) AS z FROM st),
              |bud AS (SELECT source, t_s, CAST(floor(
              |    (CAST(sq AS DOUBLE) / CAST(z AS DOUBLE)) *
              |    floor(CAST(t_tot AS DOUBLE) * 0.5)) AS BIGINT) AS budget_tokens
              |  FROM st, tot),
              |cum AS (SELECT source, doc_id, n_tok,
              |  sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
              |    ROWS UNBOUNDED PRECEDING) AS cum FROM tk),
              |keep AS (SELECT c.source, c.doc_id, c.n_tok
              |  FROM cum c JOIN bud b USING (source) WHERE c.cum <= b.budget_tokens)
              |SELECT b.source, CAST(b.t_s AS BIGINT) AS src_tokens, b.budget_tokens,
              |  CAST(count(k.doc_id) AS BIGINT) AS kept_docs,
              |  CAST(coalesce(sum(k.n_tok), 0) AS BIGINT) AS kept_tokens,
              |  CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS kept_id_sum
              |FROM bud b LEFT JOIN keep k USING (source)
              |GROUP BY 1, 2, 3 ORDER BY source""".stripMargin)),

    // Bigram-LM fluency scoring — the CCNet-style "perplexity filter" a
    // web-scrape pipeline runs after boilerplate removal: train add-one-
    // smoothed bigram probabilities ON the corpus itself, then score each
    // doc by its mean per-bigram probability p(w2|w1) = (c(w1w2)+1) /
    // (c(w1·)+V), with V = the number of distinct conditioning prefixes.
    // Deliberately log-free: ln()'s last ulp differs across libms, so the
    // score stays in probability space — each per-bigram probability is
    // one exact-integer IEEE division rounded to 9 dp, summed as
    // DECIMAL(38,9) (exact), and the mean is a single deterministic
    // division (x28's determinism recipe). Plan shape: the bigram stream
    // is parsed from the docs ONCE and materialized (x05's `ex` trick),
    // and the count table — the trained LM "model" — is materialized too,
    // so training is one pass and neither is re-derived per consumer; all
    // aggregates stay HASH aggregates (the prefix is derived from the
    // bigram string AFTER counting, because carrying it through min()
    // would force a sort-based aggregate — an index-sized sort); prefix
    // counts c(w1·) and V derive from the SMALL count table, never from a
    // second stream scan; total stream movement = one count-agg exchange,
    // one probability join, one map-side-reduced per-doc rollup.
    QueryDef(
      "x44_lm_quality",
      (s, d) => {
        val ex = documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"),
            explode(graft.ops.TextDedup.shingles(col("tk"), 2)).as("bg"))
          .localCheckpoint(eager = true)
        val c2 = ex.groupBy("bg").agg(count(lit(1)).as("c2"))
          .localCheckpoint(eager = true)
        val c1 = c2.select(substring_index(col("bg"), " ", 1).as("w1"), col("c2"))
          .groupBy("w1").agg(sum("c2").as("c1"))
        val vocab = c1.agg(count(lit(1)).as("v"))
        val ctab = c2.select(col("bg"), substring_index(col("bg"), " ", 1).as("w1"),
            col("c2"))
          .join(c1.hint("shuffle_hash"), "w1")
          .crossJoin(broadcast(vocab))
          .withColumn("p",
            round((col("c2") + 1).cast(DoubleType) /
              (col("c1") + col("v")).cast(DoubleType), 9).cast(DecimalType(18, 9)))
          .select("bg", "p")
        ex.join(ctab.hint("shuffle_hash"), "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast(LongType).as("n_bigrams"),
            round(sum(col("p")).cast(DoubleType) / count(lit(1)), 6).as("lm_score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents
              |  WHERE text IS NOT NULL),
              |bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg
              |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
              |        FROM t WHERE len(tk) >= 2) u),
              |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
              |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c2) AS c1
              |  FROM c2 GROUP BY 1),
              |v AS (SELECT count(*) AS v FROM c1),
              |ct AS (SELECT c2.bg, CAST(round(
              |    CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE), 9)
              |    AS DECIMAL(18,9)) AS p
              |  FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1 CROSS JOIN v)
              |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |  round(CAST(sum(ct.p) AS DOUBLE) / count(*), 6) AS lm_score
              |FROM bg b JOIN ct USING (bg) GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // SemDeDup (semantic dedup, Abbas et al. 2023 pattern): cluster the
    // embeddings, then prune near-identical pairs WITHIN each cluster —
    // the move that makes embedding dedup sub-quadratic at corpus scale:
    // the pairwise cosine test is confined to cluster-local candidates
    // (cross-cluster near-dups are the accepted miss, exactly the paper's
    // trade; x06's sign-LSH is the recall-oriented alternative).
    // Assignment is x07's max_by hash-agg (the shuffle carries n rows, not
    // n×k); the within-cluster pair join is cluster-keyed, never
    // all-pairs; a vector is a duplicate iff a LOWER-id cluster-mate has
    // rounded cosine ≥ τ = 0.99 — the min-id survivor rule every dedup
    // path here uses. The centroid count SCALES with the corpus (every
    // 83rd vector), so expected cluster occupancy is a constant ~83 and
    // the quadratic-within-cluster pair stage stays LINEAR in corpus size
    // — a fixed centroid count would make cluster size, and the pair
    // stage, grow quadratically. (Clone ids ≥ 10000 duplicate some
    // centroid embeddings; ties break to the lowest cent_id identically in
    // both engines, so that is harmless.) Assignment is TWO-LEVEL
    // coarse→fine (ivfAssignedShared → KMeansLite.assignTwoLevel): with k
    // ∝ corpus the single-level scoring was itself an n²/83 build term;
    // the √k coarse router makes the build n·2√k while keeping constant
    // expected occupancy. The id-shifted clone corpus guarantees
    // positives: a clone's embedding is identical, so every argmax stage
    // scores and tie-breaks it identically to its original — clones
    // co-cluster through both levels and cosine to 1.0.
    QueryDef(
      "x45_semdedup",
      (s, d) => {
        // the corpus×centroids assignment is the dominant cost and has
        // THREE consumers (both pair-join sides + the final projection) —
        // ivfAssignedShared computes it once per session (checkpointed)
        // and serves cold re-runs from the bucketed store
        val assigned = ivfAssignedShared(s, d, "corpus", 83, 2, embCorpus(s, d))
        val dup = assigned.as("a")
          .join(assigned.as("b").hint("shuffle_hash"),
            col("a.cent_id") === col("b.cent_id") && col("b.vec_id") < col("a.vec_id"))
          .filter(round(VectorFunctions.cosine(col("a.embedding"), col("b.embedding")), 6)
            >= 0.99)
          .select(col("a.vec_id").as("vec_id")).distinct()
        assigned.join(dup.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
          .select(col("vec_id"), col("cent_id"),
            coalesce(col("is_dup"), lit(false)).as("is_dup"))
          .orderBy("vec_id")
      },
      Some("""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
             |  UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
             |  FROM corpus),
             |cent AS (SELECT vec_id AS cent_id, emb AS c_emb, norm AS c_norm FROM e
             |  WHERE vec_id % 83 = 2),
             |mm AS (SELECT greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS m FROM cent),
             |co AS (SELECT cent.* FROM cent, mm WHERE (cent_id - 2) % (83 * m) = 0),
             |fc AS (SELECT f.cent_id, f.c_emb, f.c_norm, co.cent_id AS cell,
             |  row_number() OVER (PARTITION BY f.cent_id
             |    ORDER BY list_dot_product(f.c_emb, co.c_emb) / (f.c_norm * co.c_norm) DESC, co.cent_id) AS rn
             |  FROM cent f CROSS JOIN co),
             |fcell AS (SELECT cent_id, c_emb, c_norm, cell FROM fc WHERE rn = 1),
             |vc AS (SELECT e.vec_id, e.emb, e.norm, co.cent_id AS cell,
             |  row_number() OVER (PARTITION BY e.vec_id
             |    ORDER BY list_dot_product(e.emb, co.c_emb) / (e.norm * co.c_norm) DESC, co.cent_id) AS rn
             |  FROM e CROSS JOIN co),
             |vcell AS (SELECT vec_id, emb, norm, cell FROM vc WHERE rn = 1),
             |ac AS (SELECT v.vec_id, f.cent_id, v.emb, v.norm,
             |  row_number() OVER (PARTITION BY v.vec_id
             |    ORDER BY list_dot_product(v.emb, f.c_emb) / (v.norm * f.c_norm) DESC, f.cent_id) AS arn
             |  FROM vcell v JOIN fcell f ON f.cell = v.cell),
             |assigned AS (SELECT vec_id, cent_id, emb, norm FROM ac WHERE arn = 1)
             |SELECT a.vec_id AS vec_id, a.cent_id AS cent_id,
             |  coalesce(bool_or(
             |    round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) >= 0.99),
             |    FALSE) AS is_dup
             |FROM assigned a LEFT JOIN assigned b
             |  ON b.cent_id = a.cent_id AND b.vec_id < a.vec_id
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // REAL JPEG + MP3 header metadata, oracle-gated end to end (the x27
    // pattern extended to the two headline entropy-coded formats): JPEG
    // dimensions live in the SOF frame header and MP3 rate/channels in the
    // MPEG-1 frame header — both plain byte arithmetic (plus the public
    // MPEG-1 bitrate/sample-rate index tables), NO entropy decoding — so
    // metadata extraction is real even though pixel/audio decode stays
    // behind the codec stub. Blobs are built byte-identically in BOTH
    // engines: a JPEG whose SOF0 sits behind a variable-length COM chunk
    // (so the gate exercises the marker WALK, not a fixed offset), an MP3
    // as a raw MPEG-1 Layer III frame, an MP3 behind an ID3v2 tag with a
    // syncsafe (7-bit-byte) size, and a corrupt JPEG (SOS before any SOF →
    // fake fallback). DuckDB independently re-parses every field back out
    // of the hex — COM length → SOF offset → big-endian dims; syncsafe tag
    // size → frame offset → index bits → TABLE lookups — so the decoder's
    // byte arithmetic is engine-differentially checked. Narrow per-row op,
    // zero shuffle before the final ORDER BY.
    QueryDef(
      "x46_av_headers",
      (s, d) => {
        val base = documents(s, d).filter(col("doc_id") < 24)
          .select(col("doc_id"),
            (col("doc_id") % 4).as("kind"),
            expr("CAST(100 + (doc_id * 7) % 900 AS INT)").as("w"),
            expr("CAST(50 + (doc_id * 3) % 500 AS INT)").as("h"),
            expr("CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT)").as("nc"),
            expr("CAST(doc_id % 7 + 1 AS INT)").as("k"),
            expr("CAST(1 + doc_id % 14 AS INT)").as("bri"),
            expr("CAST(doc_id % 3 AS INT)").as("sri"),
            expr("CAST((doc_id div 3) % 2 AS INT)").as("pad"),
            expr("CAST((doc_id * 5) % 4 AS INT)").as("mode"),
            expr("CAST(doc_id % 40 AS INT)").as("taglen"))
        val frameHex = s"concat('FFFB', ${hbS("bri * 16 + sri * 4 + pad * 2")}, " +
          s"${hbS("mode * 64")}, 'DEADBEEF')"
        val jpegHex = s"concat('FFD8', 'FFFE', ${be16S("2 + k")}, repeat('4A', k), " +
          s"'FFC0', ${be16S("8 + 3 * nc")}, '08', ${be16S("h")}, ${be16S("w")}, " +
          s"${hbS("nc")}, CASE WHEN nc = 3 THEN '011100021100031100' ELSE '011100' END, " +
          "'FFDA0002')"
        val id3Hex = s"concat('494433', '0400', '00', '000000', ${hbS("taglen")}, " +
          s"repeat('00', taglen), $frameHex)"
        val blobs = base
          .withColumn("hx", expr(
            s"CASE CAST(kind AS INT) WHEN 0 THEN $jpegHex WHEN 1 THEN $frameHex " +
              s"WHEN 2 THEN $id3Hex ELSE 'FFD8FFDA0002' END"))
          .select(col("doc_id").as("media_id"), unhex(col("hx")).as("media"))
        graft.ops.Multimodal.extractMeta(blobs, graft.ops.Multimodal.HeaderDecoder)
          .select(col("media_id"), col("format"),
            col("width").cast(LongType), col("height").cast(LongType),
            col("n_bytes"))
          .orderBy("media_id")
      },
      Some {
        def hAt(p: String) = s"(instr('0123456789ABCDEF', substr(hx, $p, 1)) - 1)"
        def byteAtE(o: String) = s"(${hAt(s"2*($o) + 1")} * 16 + ${hAt(s"2*($o) + 2")})"
        val frameHexD = s"('FFFB' || ${hbD("bri * 16 + sri * 4 + pad * 2")} || " +
          s"${hbD("mode * 64")} || 'DEADBEEF')"
        val jpegHexD = s"('FFD8' || 'FFFE' || ${be16D("2 + k")} || repeat('4A', k) || " +
          s"'FFC0' || ${be16D("8 + 3 * nc")} || '08' || ${be16D("h")} || ${be16D("w")} || " +
          s"${hbD("nc")} || CASE WHEN nc = 3 THEN '011100021100031100' ELSE '011100' END || " +
          "'FFDA0002')"
        val id3HexD = s"('494433' || '0400' || '00' || '000000' || ${hbD("taglen")} || " +
          s"repeat('00', taglen) || $frameHexD)"
        // MP3 frame-header byte offset: 0 for a raw frame, past the ID3v2
        // tag otherwise (syncsafe 28-bit size re-parsed from bytes 6..9)
        val srIdx = s"((${byteAtE("f + 2")} // 4) % 4)"
        val chMode = s"(${byteAtE("f + 3")} // 64)"
        s"""WITH b AS (SELECT doc_id, doc_id % 4 AS kind,
           |  100 + (doc_id * 7) % 900 AS w, 50 + (doc_id * 3) % 500 AS h,
           |  CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS nc, doc_id % 7 + 1 AS k,
           |  1 + doc_id % 14 AS bri, doc_id % 3 AS sri, (doc_id // 3) % 2 AS pad,
           |  (doc_id * 5) % 4 AS mode, doc_id % 40 AS taglen
           |  FROM documents WHERE doc_id < 24),
           |hxt AS (SELECT doc_id, kind, CASE kind::INT
           |    WHEN 0 THEN $jpegHexD WHEN 1 THEN $frameHexD
           |    WHEN 2 THEN $id3HexD ELSE 'FFD8FFDA0002' END AS hx FROM b),
           |par AS (SELECT doc_id, kind, hx,
           |  CASE WHEN kind = 0
           |    THEN 4 + ${byteAtE("4")} * 256 + ${byteAtE("5")} ELSE 0 END AS sof,
           |  CASE WHEN kind = 2 THEN 10 + ${byteAtE("6")} * 2097152 +
           |    ${byteAtE("7")} * 16384 + ${byteAtE("8")} * 128 + ${byteAtE("9")}
           |    ELSE 0 END AS f
           |  FROM hxt)
           |SELECT doc_id AS media_id,
           |  CASE kind WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'audio/mp3'
           |    WHEN 2 THEN 'audio/mp3'
           |    ELSE CASE WHEN ${byteAtE("0")} % 2 = 0 THEN 'img/fake-rgb'
           |      ELSE 'img/fake-gray' END END AS format,
           |  CAST(CASE kind
           |    WHEN 0 THEN ${byteAtE("sof + 7")} * 256 + ${byteAtE("sof + 8")}
           |    WHEN 3 THEN 16 + ${byteAtE("0")} % 64
           |    ELSE CASE $srIdx WHEN 0 THEN 44100 WHEN 1 THEN 48000
           |      WHEN 2 THEN 32000 END END AS BIGINT) AS width,
           |  CAST(CASE kind
           |    WHEN 0 THEN ${byteAtE("sof + 5")} * 256 + ${byteAtE("sof + 6")}
           |    WHEN 3 THEN 16 + ${byteAtE("1")} % 64
           |    ELSE CASE WHEN $chMode = 3 THEN 1 ELSE 2 END END AS BIGINT) AS height,
           |  CAST(len(hx) // 2 AS BIGINT) AS n_bytes
           |FROM par ORDER BY media_id""".stripMargin
      }),

    // INCREMENTAL dedup — today's crawl against yesterday's corpus (the
    // production shape every batch dedup op here ultimately feeds): each
    // NEW doc is flagged dup_exact (content hash present in the index) and
    // dup_near (shares an LSH band bucket with an index doc at ≥ 6/8
    // signature agreement). The pair stage is
    // TextDedup.crossLshCandidatePairs — new × index ONLY, never new×new
    // or index×index, so cost scales with the BATCH, not corpus²; in
    // production the index's band table and hash set are precomputed and
    // stored (pure functions of the index corpus). The exact probe
    // broadcasts the distinct index-hash set — at 100 TB swap to x39's
    // Bloom-prefiltered semi-join; the LSH join stays a bucket hash join
    // either way. The gate batch manufactures all three outcomes: exact
    // clones of index docs (+20000), one-token-appended near-dups
    // (+30000, same shingle mass → bands still collide), and the fresh
    // tail (doc_id ≥ 250) that may or may not match — whatever both
    // engines agree it does.
    QueryDef(
      "x47_incremental_dedup",
      (s, d) => {
        val all = documents(s, d).select("doc_id", "text")
        val idx = all.filter(col("doc_id") < 250)
        val newb = all.filter(col("doc_id") < 100)
          .select((col("doc_id") + 20000).as("doc_id"), col("text"))
          .unionByName(all.filter(col("doc_id") >= 100 && col("doc_id") < 150)
            .select((col("doc_id") + 30000).as("doc_id"),
              concat(col("text"), lit(" zzz")).as("text")))
          .unionByName(all.filter(col("doc_id") >= 250))
        val near = graft.ops.TextDedup.crossLshCandidatePairs(newb, idx)
          .filter(col("n_match") >= 6)
          .select(col("new_id").as("doc_id")).distinct()
        val idxHashes = idx.select(md5(col("text").cast("binary")).as("h")).distinct()
        newb.withColumn("nh", md5(col("text").cast("binary")))
          .join(broadcast(idxHashes), col("nh") === col("h"), "left")
          .select(col("doc_id"), col("h").isNotNull.as("dup_exact"))
          .join(near.withColumn("dup_near", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_exact"),
            coalesce(col("dup_near"), lit(false)).as("dup_near"))
          .orderBy("doc_id")
      },
      Some(s"""WITH idx AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
              |newb AS (SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id < 100
              |  UNION ALL SELECT doc_id + 30000, text || ' zzz' FROM documents
              |    WHERE doc_id >= 100 AND doc_id < 150
              |  UNION ALL SELECT doc_id, text FROM documents WHERE doc_id >= 250),
              |corpus AS (SELECT * FROM newb UNION ALL SELECT * FROM idx),
              |${minhashSigSql("corpus")},
              |band AS (SELECT doc_id, CAST(floor(seed / 2) AS BIGINT) AS band,
              |  min(mh) || '|' || max(mh) AS bsig FROM sig GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.doc_id AS n_id, b.doc_id AS i_id FROM band a
              |  JOIN band b ON a.band = b.band AND a.bsig = b.bsig
              |  AND a.doc_id >= 250 AND b.doc_id < 250),
              |pm AS (SELECT c.n_id, c.i_id,
              |  count(CASE WHEN sa.mh = sb.mh THEN 1 END) AS n_match
              |  FROM cand c JOIN sig sa ON sa.doc_id = c.n_id
              |  JOIN sig sb ON sb.doc_id = c.i_id AND sb.seed = sa.seed
              |  GROUP BY 1, 2),
              |near AS (SELECT DISTINCT n_id AS doc_id FROM pm WHERE n_match >= 6),
              |ih AS (SELECT DISTINCT md5(text) AS h FROM idx)
              |SELECT n.doc_id, (ih.h IS NOT NULL) AS dup_exact,
              |  (near.doc_id IS NOT NULL) AS dup_near
              |FROM newb n
              |LEFT JOIN ih ON md5(n.text) = ih.h
              |LEFT JOIN near ON near.doc_id = n.doc_id
              |ORDER BY n.doc_id""".stripMargin)),

    // SEQUENCE PACKING — the last stage of a pretraining data pipeline:
    // concatenate each source's token stream (docs in doc_id order) and
    // slice it into fixed L-token packs, emitting which token span of which
    // document lands where. x30 chunks WITHIN a document; packing is the
    // ACROSS-document form every trainer actually consumes (docs cross pack
    // boundaries; no padding waste). Pure integer arithmetic over ONE
    // exchange: hash-partition by source, per-source running token offset
    // (window cumsum), then a narrow explode of each doc's spanned pack
    // range. Per-source packing is sequential by construction — at 100 TB
    // sub-shard the stream (source, xxhash64(doc_id) % k) and pack each
    // shard independently: pack order within a corpus is arbitrary-but-
    // deterministic, so shard-local packing is semantically identical and
    // restores full parallelism (the same argument x17 makes for splits).
    QueryDef(
      "x48_sequence_packing",
      (s, d) => {
        val L = 64L
        val w = Window.partitionBy("source").orderBy("doc_id")
        documents(s, d)
          .select(col("source"), col("doc_id"),
            size(tokens(col("text"))).cast(LongType).as("n_tok"))
          .withColumn("end_off", sum(col("n_tok")).over(w))
          .withColumn("start_off", col("end_off") - col("n_tok"))
          .withColumn("pack_id",
            explode(sequence(expr(s"start_off div $L"), expr(s"(end_off - 1) div $L"))))
          .select(col("source"), col("pack_id").cast(LongType).as("pack_id"),
            col("doc_id"),
            greatest(lit(0L), col("pack_id") * L - col("start_off")).as("doc_tok_lo"),
            least(col("n_tok"), (col("pack_id") + 1L) * L - col("start_off")).as("doc_tok_hi"),
            (col("start_off") + greatest(lit(0L), col("pack_id") * L - col("start_off"))
              - col("pack_id") * L).as("pack_off"))
          .orderBy("source", "pack_id", "doc_id")
      },
      Some(s"""WITH t AS (SELECT source, doc_id,
              |  CAST(len($tokensSql) AS BIGINT) AS n_tok FROM documents),
              |o AS (SELECT source, doc_id, n_tok,
              |  CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS end_off
              |  FROM t),
              |s AS (SELECT *, end_off - n_tok AS start_off FROM o),
              |e AS (SELECT source, doc_id, n_tok, start_off,
              |  unnest(range(start_off // 64, (end_off - 1) // 64 + 1)) AS pack_id FROM s)
              |SELECT source, CAST(pack_id AS BIGINT) AS pack_id, doc_id,
              |  CAST(greatest(0, pack_id * 64 - start_off) AS BIGINT) AS doc_tok_lo,
              |  CAST(least(n_tok, (pack_id + 1) * 64 - start_off) AS BIGINT) AS doc_tok_hi,
              |  CAST(start_off + greatest(0, pack_id * 64 - start_off) - pack_id * 64 AS BIGINT)
              |    AS pack_off
              |FROM e ORDER BY source, pack_id, doc_id""".stripMargin)),

    // N-GRAM DECONTAMINATION RATIO — the published eval-decontamination
    // recipe (per-document fraction of distinct n-grams that appear
    // anywhere in a benchmark set, flag above a threshold). x19/x39 catch
    // EXACT benchmark strings and x41 scores doc-vs-doc containment; this
    // is the doc-vs-CORPUS form used in practice: the benchmark's distinct
    // shingle set is tiny relative to the training corpus, so it
    // BROADCASTS and the corpus never shuffles for the membership probe —
    // the only exchanges are the per-doc distinct/count aggregates, keyed
    // by (doc_id, sh) then doc_id, both map-side-partial hash aggregates.
    // At 100 TB the broadcast side is the eval suite (MBs), the posture
    // holds as-is; if the benchmark ever outgrows broadcast, x39's Bloom
    // prefilter is the drop-in (same left-join shape).
    QueryDef(
      "x49_decontamination",
      (s, d) => {
        val grams = documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(graft.ops.TextDedup.shingles(col("tk"))).as("sh"))
        val bench = grams.filter(col("doc_id") % 17 === 3).select("sh").distinct()
        grams.filter(col("doc_id") % 17 =!= 3)
          .dropDuplicates("doc_id", "sh")
          .join(broadcast(bench.withColumn("hit", lit(1L))), Seq("sh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
          .select(col("doc_id"), col("n_grams"), col("n_hit"),
            round(col("n_hit") / col("n_grams").cast(DoubleType), 6).as("overlap_ratio"),
            (round(col("n_hit") / col("n_grams").cast(DoubleType), 6) >= 0.2)
              .as("contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              |g AS (SELECT DISTINCT doc_id, sh FROM (
              |  SELECT doc_id, unnest($shinglesSql) AS sh FROM t WHERE len(tk) >= 3) u),
              |b AS (SELECT DISTINCT sh FROM g WHERE doc_id % 17 = 3),
              |tr AS (SELECT g.doc_id, (b.sh IS NOT NULL) AS hit FROM g
              |  LEFT JOIN b ON g.sh = b.sh WHERE g.doc_id % 17 <> 3)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
              |  round(sum(CASE WHEN hit THEN 1 ELSE 0 END)
              |    / CAST(count(*) AS DOUBLE), 6) AS overlap_ratio,
              |  (round(sum(CASE WHEN hit THEN 1 ELSE 0 END)
              |    / CAST(count(*) AS DOUBLE), 6) >= 0.2) AS contaminated
              |FROM tr GROUP BY 1 ORDER BY doc_id""".stripMargin))
  ) ++ retrieval ++ corpusEval

  /** x50+ live in a second Seq to keep the primary catalog initializer
    * under the JVM's 64 KB method-size limit (the CoreQueries split). */
  private lazy val retrieval: Seq[QueryDef] = Seq(

    // INVERTED INDEX with BOUNDED posting lists — the retrieval-side
    // artifact a curated corpus feeds (lexical search, hard-negative
    // mining). Per token: document frequency plus the top-5 postings by
    // term frequency. The naive form ranks postings with a per-token
    // window — a full sort of every (token, doc) pair; stopword tokens
    // make that sort quadratic-ish at 100 TB. Here the posting list is
    // x13/x28's bounded top-k aggregate: map-side partial combine ships
    // ≤ k postings per token per partition, so the tok exchange carries
    // O(vocab × k), never O(corpus). doc_id rides as a zero-padded
    // fixed-width string so the aggregator's (score DESC, payload ASC)
    // tie-break equals numeric doc_id order — engine-comparable without
    // a second sort. Both exchanges (tok,doc_id → tok) partial-combine.
    QueryDef(
      "x50_inverted_index",
      (s, d) => {
        val topk = udaf(new graft.functions.TopKStringsAggregator(5))
        val tf = documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
        tf.groupBy("tok")
          .agg(count(lit(1)).cast(LongType).as("df"),
            topk(col("tf").cast(DoubleType),
              lpad(col("doc_id").cast("string"), 8, "0")).as("post"))
          .select(col("tok"), col("df"), posexplode(col("post")))
          .select(col("tok"), col("df"), (col("pos") + 1).cast(LongType).as("rn"),
            col("col._2").cast(LongType).as("doc_id"),
            col("col._1").cast(LongType).as("tf"))
          .orderBy("tok", "rn")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
              |tf AS (SELECT tok, doc_id, count(*) AS tf FROM toks WHERE tok <> '' GROUP BY 1, 2),
              |dfx AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
              |r AS (SELECT tok, doc_id, tf,
              |  CAST(row_number() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS BIGINT) AS rn FROM tf)
              |SELECT r.tok, dfx.df, r.rn, r.doc_id, CAST(r.tf AS BIGINT) AS tf
              |FROM r JOIN dfx USING (tok) WHERE rn <= 5 ORDER BY tok, rn""".stripMargin)),

    // BM25 RETRIEVAL — score the corpus against a query term set (doc 0's
    // vocabulary) and return the top-20. Okapi BM25 with k1=1.2, b=0.75,
    // but the Robertson idf is kept in its RATIONAL form
    // (N − df + 0.5)/(df + 0.5) — no log(), whose libm rounding differs
    // across engines. Every input to the formula is an exact integer (tf,
    // df, dl, N, Σdl), the two engines evaluate the SAME IEEE expression
    // tree, and per-doc term contributions are summed as DECIMAL after a
    // 6 dp round, so the gate compares bit-identical doubles. Scale
    // posture: the query term set and its df table BROADCAST (bounded by
    // query vocabulary); the corpus-side exchanges are the (tok, doc_id)
    // tf aggregate and the per-doc score aggregate; top-20 is
    // TakeOrdered (per-partition heads, no global sort materialization).
    QueryDef(
      "x51_bm25_retrieval",
      (s, d) => {
        // tokenize once: t has three consumers (query terms, doc lengths,
        // the tf explode) and tf two (df + scoring) — checkpoint both so
        // the corpus is scanned and exploded a single time
        val t = documents(s, d).select(col("doc_id"), tokens(col("text")).as("tk"))
          .localCheckpoint(true)
        val qt = t.filter(col("doc_id") === 0)
          .select(explode(col("tk")).as("tok")).distinct()
        val dl = t.select(col("doc_id"), size(col("tk")).cast(LongType).as("dl"))
        val n = dl.agg(count(lit(1)).cast(LongType).as("n_docs"),
          sum(col("dl")).cast(LongType).as("sum_dl"))
        val tf = t.select(col("doc_id"), explode(col("tk")).as("tok"))
          .join(broadcast(qt), Seq("tok"))
          .groupBy("tok", "doc_id").agg(count(lit(1)).cast(LongType).as("tf"))
          .localCheckpoint(true)
        val dfT = tf.groupBy("tok").agg(count(lit(1)).cast(LongType).as("df"))
        val sc = tf.join(broadcast(dfT), Seq("tok"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(n))
          .withColumn("s", round(
            ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
              * (col("tf") * lit(2.2)) / (col("tf") + lit(1.2) *
                (lit(0.25) + lit(0.75) * col("dl")
                  / (col("sum_dl").cast(DoubleType) / col("n_docs")))), 6))
        val top = sc.groupBy("doc_id")
          .agg(sum(col("s").cast(DecimalType(18, 6))).cast(DoubleType).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
        top.withColumn("rank",
            row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
              .cast(LongType))
          .select(col("rank"), col("doc_id"), col("score"))
          .orderBy("rank")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              |qt AS (SELECT DISTINCT unnest(tk) AS tok FROM t WHERE doc_id = 0),
              |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t),
              |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
              |toks AS (SELECT doc_id, unnest(tk) AS tok FROM t),
              |tf AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
              |  FROM toks JOIN qt USING (tok) GROUP BY 1, 2),
              |dfx AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
              |sc AS (SELECT tf.doc_id,
              |  round(((n.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
              |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
              |      / (CAST(n.sum_dl AS DOUBLE) / n.n_docs))), 6) AS s
              |  FROM tf JOIN dfx USING (tok) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN n),
              |tot AS (SELECT doc_id, CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS score
              |  FROM sc GROUP BY 1),
              |r AS (SELECT doc_id, score,
              |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM tot)
              |SELECT rank, doc_id, score FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    // SLIDING-WINDOW SPAN DEDUP — the fixed-width approximation of
    // suffix-array substring dedup (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better"): flag every 8-token window whose
    // hash occurs in ≥ 2 distinct documents, then report per document the
    // duplicated-window count and the LONGEST duplicated run (the
    // gaps-and-islands trick on flagged positions). The test corpus unions
    // a 5th-token-suffix clone of every 5th doc so cross-document shared
    // spans exist by construction. Scale posture: the window exchange is
    // keyed by the 16-byte window HASH (never window text); the dup set
    // derives from a partial-combined (h, doc) dedup + count, and the
    // islands run entirely inside ONE doc_id exchange — the island id is
    // pos − cumsum(dup) (a running sum over the SAME window as the marks),
    // so stats, runs, and max-run are two stacked hash aggregates on that
    // exchange, never a second branch re-deriving the window stream (a
    // branch-per-metric plan tokenizes the corpus once per metric at
    // 100 TB). Nothing is all-pairs — cost is linear in corpus tokens,
    // exactly why production pipelines run this form over suffix arrays.
    QueryDef(
      "x52_span_dedup",
      (s, d) => {
        val doc = documents(s, d).select(col("doc_id"), col("text"))
        val sfx = documents(s, d).filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 20000).as("doc_id"),
            array_join(slice(tokens(col("text")), 6, 1000000), " ").as("text"))
        val w = doc.unionByName(sfx)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 8)
          .select(col("doc_id"),
            posexplode(graft.ops.TextDedup.shingles(col("tk"), 8)))
          .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
            md5(col("col").cast("binary")).as("h"))
        val dh = w.groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
          .groupBy("h").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2).select("h")
        val wi = Window.partitionBy("doc_id").orderBy("pos")
        // island id: pos − running count of dup windows ⇒ constant within a
        // consecutive dup run, null for non-dup rows (they share one group)
        val marked = w.join(dh.withColumn("dup", lit(true)), Seq("h"), "left")
          .select(col("doc_id"), col("pos"),
            coalesce(col("dup"), lit(false)).as("dup"))
          .withColumn("grp", when(col("dup"),
            col("pos") - sum(when(col("dup"), 1L).otherwise(0L)).over(wi)))
        marked.groupBy("doc_id", "grp").agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id")
          .agg(sum("cnt").as("n_windows"),
            sum(when(col("grp").isNotNull, col("cnt")).otherwise(0L)).as("n_dup"),
            max(when(col("grp").isNotNull, col("cnt")).otherwise(0L)).as("max_run"))
          .select(col("doc_id"),
            col("n_windows").cast(LongType).as("n_windows"),
            col("n_dup").cast(LongType).as("n_dup"),
            col("max_run").cast(LongType).as("max_run"),
            round(col("n_dup") / col("n_windows").cast(DoubleType), 6).as("dup_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sfx AS (SELECT doc_id + 20000 AS doc_id,
              |  array_to_string(($tokensSql)[6:], ' ') AS text FROM documents WHERE doc_id % 5 = 0),
              |corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM sfx),
              |t AS (SELECT doc_id, $tokensSql AS tk FROM corpus),
              |g AS (SELECT doc_id, unnest(range(1, len(tk) - 6)) AS pos, tk FROM t WHERE len(tk) >= 8),
              |w AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              |  md5(tk[pos] || ' ' || tk[pos+1] || ' ' || tk[pos+2] || ' ' || tk[pos+3] || ' ' ||
              |      tk[pos+4] || ' ' || tk[pos+5] || ' ' || tk[pos+6] || ' ' || tk[pos+7]) AS h FROM g),
              |dh AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
              |dk AS (SELECT w.doc_id, w.pos, (dh.h IS NOT NULL) AS dup FROM w LEFT JOIN dh ON w.h = dh.h),
              |isl AS (SELECT doc_id, pos,
              |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dk WHERE dup),
              |runs AS (SELECT doc_id, grp, count(*) AS run FROM isl GROUP BY 1, 2),
              |mx AS (SELECT doc_id, max(run) AS max_run FROM runs GROUP BY 1),
              |st AS (SELECT doc_id, count(*) AS n_windows,
              |  sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup FROM dk GROUP BY 1)
              |SELECT st.doc_id, CAST(n_windows AS BIGINT) AS n_windows,
              |  CAST(n_dup AS BIGINT) AS n_dup,
              |  CAST(coalesce(mx.max_run, 0) AS BIGINT) AS max_run,
              |  round(n_dup / CAST(n_windows AS DOUBLE), 6) AS dup_ratio
              |FROM st LEFT JOIN mx USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // CORPUS SNAPSHOT DIFF — dataset versioning: classify every document
    // across two corpus versions as added / removed / modified / unchanged
    // (the audit artifact a 100 TB corpus refresh publishes). v2 is a
    // deterministic mutation of v1 (every 10th doc dropped, the next tenth
    // revised, the next tenth cloned under new ids). Content equality is
    // by md5 computed SCAN-SIDE, so the full-outer sort-merge join on
    // doc_id carries 16-byte digests, never corpus bytes — at 100 TB the
    // join cost is id-table-sized, and with both versions bucketed by
    // doc_id it degenerates to a zero-shuffle zip.
    QueryDef(
      "x53_snapshot_diff",
      (s, d) => {
        val doc = documents(s, d)
        val v1 = doc.select(col("doc_id").as("v1_id"),
          md5(col("text").cast("binary")).as("h1"))
        val v2 = doc.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 1)
          .select(col("doc_id").as("v2_id"), md5(col("text").cast("binary")).as("h2"))
          .unionByName(doc.filter(col("doc_id") % 10 === 1)
            .select(col("doc_id").as("v2_id"),
              md5(concat(col("text"), lit(" rev2")).cast("binary")).as("h2")))
          .unionByName(doc.filter(col("doc_id") % 10 === 2)
            .select((col("doc_id") + 50000).as("v2_id"),
              md5(col("text").cast("binary")).as("h2")))
        v1.join(v2, col("v1_id") === col("v2_id"), "full_outer")
          .select(coalesce(col("v1_id"), col("v2_id")).as("doc_id"),
            when(col("v1_id").isNull, "added")
              .when(col("v2_id").isNull, "removed")
              .when(col("h1") =!= col("h2"), "modified")
              .otherwise("unchanged").as("status"))
          .orderBy("doc_id")
      },
      Some("""WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents),
             |v2 AS (SELECT doc_id, md5(text) AS h2 FROM documents WHERE doc_id % 10 NOT IN (0, 1)
             |  UNION ALL SELECT doc_id, md5(text || ' rev2') FROM documents WHERE doc_id % 10 = 1
             |  UNION ALL SELECT doc_id + 50000, md5(text) FROM documents WHERE doc_id % 10 = 2)
             |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             |  CASE WHEN v1.doc_id IS NULL THEN 'added'
             |       WHEN v2.doc_id IS NULL THEN 'removed'
             |       WHEN h1 <> h2 THEN 'modified' ELSE 'unchanged' END AS status
             |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // BPE MERGE-PAIR COUNTING — the inner loop of byte-pair-encoding
    // tokenizer training (Sennrich et al.): count adjacent symbol pairs
    // across the corpus weighted by word frequency and surface the top
    // merge candidates. The classic implementation iterates a dict on one
    // machine; the distributed form aggregates the word table (NOT the
    // token stream — pair explosion runs over |vocab| rows, with corpus
    // multiplicity carried by the freq weight). Both exchanges (word freq,
    // pair sum) partial-combine map-side; top-20 is TakeOrdered. At
    // 100 TB successive BPE iterations re-run this with the word table
    // re-segmented by the merges learned so far — each iteration stays
    // vocab-sized after the first freq aggregate.
    QueryDef(
      "x54_bpe_merge_pairs",
      (s, d) => {
        val wf = documents(s, d)
          .select(explode(tokens(col("text"))).as("w"))
          .filter(col("w") =!= "")
          .groupBy("w").agg(count(lit(1)).cast(LongType).as("freq"))
        val top = wf.filter(length(col("w")) >= 2)
          .select(explode(
            expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"), col("freq"))
          .groupBy("pair").agg(sum(col("freq")).cast(LongType).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(20)
        top.withColumn("rn",
            row_number().over(Window.orderBy(col("n").desc, col("pair"))).cast(LongType))
          .select(col("rn"), col("pair"), col("n"))
          .orderBy("rn")
      },
      Some(s"""WITH toks AS (SELECT unnest($tokensSql) AS w FROM documents),
              |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks WHERE w <> '' GROUP BY 1),
              |pairs AS (SELECT unnest(list_transform(range(1, len(w)),
              |  i -> substr(w, CAST(i AS INT), 2))) AS pair, freq FROM wf WHERE len(w) >= 2),
              |pc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY 1),
              |r AS (SELECT pair, n,
              |  CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rn FROM pc)
              |SELECT rn, pair, n FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // TOKEN CO-OCCURRENCE LIFT — phrase/collocation detection (the
    // word2vec-era PMI recipe) with the score kept RATIONAL: lift =
    // P(a,b)/(P(a)P(b)) = n_ab·N / (n_a·n_b) — exact integers into one
    // IEEE division, no log() (x51's determinism discipline). Pair
    // candidates come from a per-document self-join over DISTINCT doc
    // tokens: keyed by doc_id, so the pair space is Σ_doc (distinct
    // tokens)² — bounded per document, linear in corpus size, never
    // vocab² across documents. The unary count tables broadcast; the
    // n_ab ≥ 5 support floor prunes the tail before scoring; top-20 is
    // TakeOrdered. At 100 TB the same shape runs with a df-capped
    // vocabulary (x05's hot-shingle argument) to bound the per-doc fanout.
    QueryDef(
      "x55_cooccurrence_lift",
      (s, d) => {
        val dtf = documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "").distinct()
        val n = dtf.agg(countDistinct("doc_id").cast(LongType).as("n_docs"))
        val u = dtf.groupBy("tok").agg(count(lit(1)).cast(LongType).as("n_t"))
        val p = dtf.select(col("doc_id"), col("tok").as("tok_a"))
          .join(dtf.select(col("doc_id"), col("tok").as("tok_b")), Seq("doc_id"))
          .filter(col("tok_a") < col("tok_b"))
          .groupBy("tok_a", "tok_b").agg(count(lit(1)).cast(LongType).as("n_ab"))
          .filter(col("n_ab") >= 5)
        val top = p
          .join(broadcast(u.select(col("tok").as("tok_a"), col("n_t").as("n_t_a"))), Seq("tok_a"))
          .join(broadcast(u.select(col("tok").as("tok_b"), col("n_t").as("n_t_b"))), Seq("tok_b"))
          .crossJoin(broadcast(n))
          .withColumn("lift", round(
            (col("n_ab") * col("n_docs")) / (col("n_t_a") * col("n_t_b")).cast(DoubleType), 6))
          .orderBy(col("lift").desc, col("tok_a"), col("tok_b")).limit(20)
        top.withColumn("rn",
            row_number().over(Window.orderBy(col("lift").desc, col("tok_a"), col("tok_b")))
              .cast(LongType))
          .select(col("rn"), col("tok_a"), col("tok_b"), col("n_ab"), col("lift"))
          .orderBy("rn")
      },
      Some(s"""WITH dt AS (SELECT DISTINCT doc_id, unnest($tokensSql) AS tok FROM documents),
              |dtf AS (SELECT doc_id, tok FROM dt WHERE tok <> ''),
              |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dtf),
              |u AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_t FROM dtf GROUP BY 1),
              |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_ab
              |  FROM dtf a JOIN dtf b ON a.doc_id = b.doc_id AND a.tok < b.tok GROUP BY 1, 2),
              |sc AS (SELECT tok_a, tok_b, n_ab,
              |  round((n_ab * n.n_docs) / CAST(ua.n_t * ub.n_t AS DOUBLE), 6) AS lift
              |  FROM p JOIN u ua ON ua.tok = p.tok_a JOIN u ub ON ub.tok = p.tok_b CROSS JOIN n
              |  WHERE n_ab >= 5),
              |r AS (SELECT *, CAST(row_number() OVER (ORDER BY lift DESC, tok_a, tok_b) AS BIGINT) AS rn
              |  FROM sc)
              |SELECT rn, tok_a, tok_b, n_ab, lift FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // LENGTH-BUCKETED BATCH ASSEMBLY — the trainer stage between x43's
    // mixture budgeting and x48's token packing: group documents into
    // fixed-size batches and account the padding cost (a batch pads every
    // member to its longest doc). Sorting by length before batching is the
    // standard padding-waste fix; this query quantifies it per source —
    // padded token cost of length-sorted batches vs natural (doc_id-order)
    // batches. All-integer arithmetic, so the oracle is exact.
    //
    // Plan shape: the per-doc (source, doc_id, n_tok) frame is tokenized
    // ONCE and localCheckpoint'd (docs-sized metadata, ~3 longs/doc — at
    // 100 TB swap for a persisted intermediate table; checkpoint BEFORE
    // the windows because checkpointing drops partitioning metadata).
    // Both rankings window-partition by source, and every downstream
    // aggregate groups by (source, …) — HashPartitioning(source)
    // satisfies each ClusteredDistribution, so the whole query runs in
    // ONE source-keyed exchange (pinned in PlanShapeSpec); the two
    // branches' identical exchanges dedupe via ReuseExchange. Per-source
    // sequentiality is inherent to the semantics (same as x48); at 100 TB
    // sub-shard the ranking key to (source, hash(doc_id) % k) — batch
    // membership is arbitrary-but-deterministic, padding accounting is
    // unchanged in expectation.
    QueryDef(
      "x56_length_batching",
      (s, d) => {
        val B = 16
        val docs = documents(s, d)
          .select(col("source"), col("doc_id"),
            size(tokens(col("text"))).cast(LongType).as("n_tok"))
          .localCheckpoint(eager = true)
        val wLen = Window.partitionBy("source").orderBy(col("n_tok").desc, col("doc_id"))
        val wNat = Window.partitionBy("source").orderBy("doc_id")
        val assigned = docs
          .withColumn("b_len", ((row_number().over(wLen) - 1) / lit(B)).cast(LongType))
          .withColumn("b_nat", ((row_number().over(wNat) - 1) / lit(B)).cast(LongType))
        val sorted = assigned.groupBy("source", "b_len")
          .agg(count(lit(1)).as("c"), max("n_tok").as("m"), sum("n_tok").as("t"))
          .groupBy("source")
          .agg(count(lit(1)).cast(LongType).as("n_batches"),
            sum(col("c")).cast(LongType).as("n_docs"),
            sum(col("t")).cast(LongType).as("n_tokens"),
            sum(col("c") * col("m")).cast(LongType).as("sorted_padded"))
        val naive = assigned.groupBy("source", "b_nat")
          .agg(count(lit(1)).as("c"), max("n_tok").as("m"))
          .groupBy("source")
          .agg(sum(col("c") * col("m")).cast(LongType).as("naive_padded"))
        sorted.join(broadcast(naive), "source")
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_batches"),
            col("sorted_padded"), col("naive_padded"),
            (col("naive_padded") - col("sorted_padded")).as("saved_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT source, doc_id,
              |  CAST(len($tokensSql) AS BIGINT) AS n_tok FROM documents),
              |a AS (SELECT source, doc_id, n_tok,
              |  (row_number() OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id) - 1) // 16 AS b_len,
              |  (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) // 16 AS b_nat
              |  FROM t),
              |sb AS (SELECT source, b_len, count(*) AS c, max(n_tok) AS m, sum(n_tok) AS tt
              |  FROM a GROUP BY 1, 2),
              |s1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_batches,
              |  CAST(sum(c) AS BIGINT) AS n_docs, CAST(sum(tt) AS BIGINT) AS n_tokens,
              |  CAST(sum(c * m) AS BIGINT) AS sorted_padded FROM sb GROUP BY 1),
              |nb AS (SELECT source, b_nat, count(*) AS c, max(n_tok) AS m FROM a GROUP BY 1, 2),
              |s2 AS (SELECT source, CAST(sum(c * m) AS BIGINT) AS naive_padded FROM nb GROUP BY 1)
              |SELECT s1.source, n_docs, n_tokens, n_batches, sorted_padded, naive_padded,
              |  naive_padded - sorted_padded AS saved_tokens
              |FROM s1 JOIN s2 ON s1.source = s2.source ORDER BY s1.source""".stripMargin)),

    // BPE MERGE APPLICATION — the tokenizer-APPLY inner loop x54's
    // merge-pair counting trains: encode every vocabulary word under a
    // fixed ordered merge list and account the corpus-weighted token
    // savings. Symbols ride an angle-bracket representation ('<t><h>') so
    // each merge is ONE exact replace-all — adjacent occurrences share no
    // characters (the space-joined form's overlap trap), and replace
    // scans left-to-right in both engines, which IS BPE's apply order for
    // a merge. Post-encode token count = '<' occurrences, pure string
    // arithmetic. The encoded string itself is in the gate, so the oracle
    // checks the actual merge application, not just the counts.
    //
    // Scale posture (x54's argument): everything past the word rollup is
    // vocabulary-sized — corpus multiplicity is carried by freq, the
    // encode is a narrow per-word pass, and the top-20 is TakeOrdered;
    // ONE operator exchange, no join (plan-pinned). Successive tokenizer
    // iterations (count pairs → extend merges → re-encode) alternate x54
    // and this query over the same vocab table.
    QueryDef(
      "x57_bpe_encode",
      (s, d) => {
        val merges = Seq(("t", "h"), ("e", "r"), ("i", "n"), ("a", "t"), ("o", "r"))
        val vocab = documents(s, d)
          .select(explode(tokens(col("text"))).as("word"))
          .filter(col("word") =!= "")
          .groupBy("word").agg(count(lit(1)).cast(LongType).as("freq"))
        val spaced = vocab.withColumn("s",
          regexp_replace(col("word"), "(.)", "<$1>"))
        val encoded = merges.foldLeft(spaced) { case (df, (a, b)) =>
          df.withColumn("s", expr(s"replace(s, '<$a><$b>', '<$a$b>')"))
        }
        encoded
          .select(col("word"), col("freq"), col("s").as("encoded"),
            length(col("word")).cast(LongType).as("n_before"),
            (length(col("s")) - length(expr("replace(s, '<', '')")))
              .cast(LongType).as("n_after"))
          .withColumn("saved_total", col("freq") * (col("n_before") - col("n_after")))
          .orderBy(col("saved_total").desc, col("word")).limit(20)
          .withColumn("rn",
            row_number().over(Window.orderBy(col("saved_total").desc, col("word")))
              .cast(LongType))
          .select(col("rn"), col("word"), col("freq"), col("encoded"),
            col("n_before"), col("n_after"), col("saved_total"))
          .orderBy("rn")
      },
      Some(s"""WITH w AS (SELECT unnest($tokensSql) AS word FROM documents),
              |f AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
              |  WHERE word <> '' GROUP BY 1),
              |e AS (SELECT word, freq,
              |  replace(replace(replace(replace(replace(
              |    regexp_replace(word, '(.)', '<\\1>', 'g'),
              |    '<t><h>', '<th>'), '<e><r>', '<er>'), '<i><n>', '<in>'),
              |    '<a><t>', '<at>'), '<o><r>', '<or>') AS s
              |  FROM f),
              |c AS (SELECT word, freq, s AS encoded,
              |  CAST(length(word) AS BIGINT) AS n_before,
              |  CAST(length(s) - length(replace(s, '<', '')) AS BIGINT) AS n_after
              |  FROM e),
              |t AS (SELECT *, freq * (n_before - n_after) AS saved_total FROM c),
              |r AS (SELECT *, CAST(row_number() OVER (ORDER BY saved_total DESC, word) AS BIGINT) AS rn
              |  FROM t)
              |SELECT rn, word, freq, encoded, n_before, n_after, saved_total
              |FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // EMBEDDING COVARIANCE (upper-triangle Gram/covariance matrix) — the
    // whitening/diagnostic pass an embedding pipeline runs before PCA or
    // quantizer training (diag = per-dimension variance, off-diag =
    // correlated dimensions; x21/x33's family). One corpus pass: exact
    // second moments Σxᵢxⱼ per (i,j) plus first moments Σxᵢ, covariance
    // derived in the d²-sized frame as E[xy] − μₓμᵧ with one shared IEEE
    // expression tree (products in double, per-product 8-dp decimal
    // rounding + exact summation — dsum discipline, engine summation
    // order never shows).
    //
    // Scale shape (round 9, the x180 lesson applied): the original
    // posexplode × slice generator materialized n·d(d+1)/2 rows through
    // GenerateExec just to feed a d²-group aggregate — 41.6M rows / 11.7 s
    // at sf0.1, 4.2B rows at 100×: the cost was row MACHINERY, not
    // arithmetic. functions/CovMomentsAggregator now does the same
    // multiply-adds in ONE long buffer per partition (unscaled decimal
    // longs — long addition IS exact decimal addition), so the corpus is
    // read once, nothing is generated, and the only exchange carries one
    // 2 145-long buffer per partition regardless of corpus size. The
    // (pos → i,j) triangle mapping and the moment joins happen in the
    // 2 145-row frame, broadcast. At 100 TB this is a linear scan with a
    // constant-width shuffle — the textbook distributed Gram matrix.
    QueryDef(
      "x58_embedding_covariance",
      (s, d) => {
        val dim = 64
        val tri = dim * (dim + 1) / 2
        val mom = udaf(new graft.functions.CovMomentsAggregator)
        // one pass, one buffer; materialized because three consumers
        // (pairs, moments, count) read the 2 145-row result
        val flat = embeddings(s, d).agg(mom(col("embedding")).as("m"))
          .select(posexplode(col("m")).as(Seq("pos", "v")))
          .localCheckpoint(eager = true)
        import s.implicits._
        val pmap = (for { i <- 0 until dim; j <- i until dim }
          yield (i * dim - i * (i - 1) / 2 + (j - i), i.toLong, j.toLong))
          .toDF("pos", "i", "j")
        val nRow = flat.filter(col("pos") === tri + dim)
          .select(col("v").cast(LongType).as("n"))
        val mo = flat.filter(col("pos") >= tri && col("pos") < tri + dim)
          .select((col("pos") - tri).cast(LongType).as("i"), col("v").as("sx"))
        flat.filter(col("pos") < tri)
          .join(broadcast(pmap), "pos")
          .join(broadcast(mo.select(col("i"), col("sx").as("sx_i"))), Seq("i"))
          .join(broadcast(mo.select(col("i").as("j"), col("sx").as("sx_j"))), Seq("j"))
          .crossJoin(broadcast(nRow))
          .select(col("i"), col("j"), col("n"),
            (round(
              col("v") / col("n")
                - (col("sx_i") / col("n"))
                * (col("sx_j") / col("n")), 6) + lit(0.0)).as("cov"))
          .orderBy("i", "j")
      },
      Some("""WITH x AS (SELECT vec_id,
             |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             |  unnest(embedding) AS xi FROM embeddings),
             |m AS (SELECT i, sum(CAST(CAST(xi AS DOUBLE) AS DECIMAL(18,8))) AS sx,
             |  CAST(count(*) AS BIGINT) AS n FROM x GROUP BY 1),
             |p AS (SELECT a.i AS i, b.i AS j,
             |  sum(CAST(CAST(a.xi AS DOUBLE) * CAST(b.xi AS DOUBLE) AS DECIMAL(18,8))) AS sxy
             |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY 1, 2)
             |SELECT p.i AS i, p.j AS j, mi.n,
             |  round(CAST(sxy AS DOUBLE) / mi.n
             |    - (CAST(mi.sx AS DOUBLE) / mi.n) * (CAST(mj.sx AS DOUBLE) / mi.n), 6) + 0.0 AS cov
             |FROM p JOIN m mi ON mi.i = p.i JOIN m mj ON mj.i = p.j
             |ORDER BY i, j""".stripMargin)),

    // FUZZY KEY JOIN (edit-distance ≤ 1 entity resolution) — the record-
    // linkage operator none of the set-similarity dedups cover: match two
    // key columns allowing one character edit, via SYMMETRIC-DELETE
    // blocking (the SymSpell construction). Each key emits itself plus its
    // |key| single-deletion variants; two keys within one substitution/
    // insertion/deletion ALWAYS share a variant, so the candidate space is
    // linear in Σ|key| and an equi-join on the variant — NEVER a cross
    // product with a distance predicate. The exact levenshtein verify
    // (identical DP both engines) runs only on blocked candidates.
    // Fixture: customers vs a deterministically one-char-perturbed clone,
    // which also produces cross-entity near-matches, so the verify
    // genuinely rejects blocked-but-distant pairs.
    //
    // 100 TB posture: variant generation is a narrow ~|key|× fan-out; the
    // only exchange of candidate-scale data is the variant equi-join
    // (partial-deduped by the pre-join DISTINCT), hot variants are
    // bounded by key length and the key-population frequency of each
    // deletion bucket — the documented skew lever is variant salting,
    // x22's pattern.
    QueryDef(
      "x59_fuzzy_join",
      (s, d) => {
        def variants(df: DataFrame) = df
          .select(col("id"), col("name"),
            explode(concat(array(col("name")),
              expr("transform(sequence(1, length(name)), i -> " +
                "concat(substr(name, 1, i - 1), substr(name, i + 1, length(name))))")))
              .as("v"))
        val base = customer(s, d)
          .select(col("c_custkey").cast(LongType).as("id"), col("c_name").as("name"))
        // perturbation position derived BEFORE the id shift, explicitly on
        // both sides (DuckDB lateral alias resolution could otherwise bind
        // the modulo to the shifted id)
        val pert = base
          .withColumn("p", (col("id") % length(col("name"))).cast("int"))
          .select((col("id") + 100000L).as("id"),
            expr("concat(substr(name, 1, p), 'x', substr(name, p + 2, length(name)))").as("name"))
        variants(base).select(col("id").as("a_id"), col("name").as("a_name"), col("v"))
          .join(variants(pert).select(col("id").as("b_id"), col("name").as("b_name"), col("v")),
            Seq("v"))
          .select("a_id", "b_id", "a_name", "b_name").distinct()
          .withColumn("dist", levenshtein(col("a_name"), col("b_name")).cast(LongType))
          .filter(col("dist") <= 1)
          .select(col("a_id"), col("b_id"), col("dist"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name FROM customer),
             |pert0 AS (SELECT id, name, CAST(id % length(name) AS INT) AS p FROM base),
             |pert AS (SELECT id + 100000 AS id,
             |  substr(name, 1, p) || 'x' || substr(name, p + 2) AS name FROM pert0),
             |av AS (SELECT id, name, unnest(list_prepend(name,
             |  list_transform(range(1, length(name) + 1),
             |    i -> substr(name, 1, i - 1) || substr(name, i + 1)))) AS v FROM base),
             |bv AS (SELECT id, name, unnest(list_prepend(name,
             |  list_transform(range(1, length(name) + 1),
             |    i -> substr(name, 1, i - 1) || substr(name, i + 1)))) AS v FROM pert),
             |cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id,
             |  a.name AS a_name, b.name AS b_name FROM av a JOIN bv b ON a.v = b.v)
             |SELECT a_id, b_id, CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
             |FROM cand WHERE levenshtein(a_name, b_name) <= 1
             |ORDER BY a_id, b_id""".stripMargin)),

    // Z-ORDER LAYOUT ACCOUNTING — the lakehouse data-skipping primitive
    // (Delta/Iceberg OPTIMIZE ZORDER): interleave two quantized dimensions
    // into a Morton code, range-bucket rows by it, and measure each
    // bucket's (quantity × price) bounding box against natural key-order
    // bucketing. Tight boxes are WHY multi-dimensional min/max pruning
    // skips files; the natural order's boxes cover the whole space. The
    // 16-term bit-interleave is one shared integer expression (>> & <<
    // parenthesized identically in both dialects) — all-integer, exact.
    //
    // Scale shape: NO global sort or window — z-range bucketing is
    // exactly how a distributed OPTIMIZE ZORDER writes files (range
    // partition by z, write per partition), so the accounting runs as two
    // narrow projections + two grouped aggregates, one broadcast scalar
    // (max orderkey) for the natural buckets, and a 16-row join. At
    // 100 TB swap the fixed z ranges for sampled range bounds — the same
    // repartitionByRange machinery every sort-based write already uses.
    QueryDef(
      "x60_zorder_layout",
      (s, d) => {
        val zExpr = (0 until 8).map(k =>
          s"((((qb >> $k) & 1) << ${2 * k + 1}) | (((pb >> $k) & 1) << ${2 * k}))")
          .mkString(" | ")
        val li = lineitem(s, d)
          .select(col("l_orderkey"),
            expr("((CAST(floor(l_quantity) AS BIGINT) - 1) * 256) div 50").as("qb"),
            least(lit(255L), expr("CAST(floor(l_extendedprice) AS BIGINT) div 410")).as("pb"))
          .withColumn("z", expr(zExpr))
        val mx = li.agg(max("l_orderkey").as("mxk"))
        val zb = li.groupBy(expr("z div 4096").as("file_id"))
          .agg(count(lit(1)).as("n_z"),
            ((max("qb") - min("qb") + 1) * (max("pb") - min("pb") + 1)).as("area_z"))
        val nb = li.crossJoin(broadcast(mx))
          .groupBy(expr("(l_orderkey * 16) div (mxk + 1)").as("file_id"))
          .agg(count(lit(1)).as("n_nat"),
            ((max("qb") - min("qb") + 1) * (max("pb") - min("pb") + 1)).as("area_nat"))
        zb.join(nb, Seq("file_id"))
          .select(col("file_id").cast(LongType).as("file_id"),
            col("n_z"), col("area_z"), col("n_nat"), col("area_nat"))
          .orderBy("file_id")
      },
      Some {
        val zExpr = (0 until 8).map(k =>
          s"((((qb >> $k) & 1) << ${2 * k + 1}) | (((pb >> $k) & 1) << ${2 * k}))")
          .mkString(" | ")
        s"""WITH li AS (SELECT l_orderkey,
           |  ((CAST(floor(l_quantity) AS BIGINT) - 1) * 256) // 50 AS qb,
           |  least(255, CAST(floor(l_extendedprice) AS BIGINT) // 410) AS pb
           |  FROM lineitem),
           |lz AS (SELECT *, $zExpr AS z FROM li),
           |mx AS (SELECT max(l_orderkey) AS mxk FROM lineitem),
           |zb AS (SELECT z // 4096 AS file_id, CAST(count(*) AS BIGINT) AS n_z,
           |  CAST((max(qb) - min(qb) + 1) * (max(pb) - min(pb) + 1) AS BIGINT) AS area_z
           |  FROM lz GROUP BY 1),
           |nb AS (SELECT (l_orderkey * 16) // (mxk + 1) AS file_id,
           |  CAST(count(*) AS BIGINT) AS n_nat,
           |  CAST((max(qb) - min(qb) + 1) * (max(pb) - min(pb) + 1) AS BIGINT) AS area_nat
           |  FROM lz CROSS JOIN mx GROUP BY 1)
           |SELECT CAST(zb.file_id AS BIGINT) AS file_id, n_z, area_z, n_nat, area_nat
           |FROM zb JOIN nb ON zb.file_id = nb.file_id ORDER BY file_id""".stripMargin
      }),

    // HASHED-FEATURE LINEAR CLASSIFIER (x61) — the fastText-style quality
    // model shape: token → hashed bucket (first 3 md5 hex digits, 4096
    // dims) → fixed integer weight per bucket → mean weight as the
    // decision score. The weight table is a deterministic function of the
    // bucket id (an affine hash into [−512, 512)) so BOTH engines own the
    // identical "model" without shipping one; swapping in trained weights
    // is a broadcast-joined 4096-row table, same plan shape.
    //
    // Determinism: weights are integers summed exactly; the score is ONE
    // IEEE division at the end, surfaced as FLOOR'd integer ppm — floor of
    // an identical exact-operand quotient is engine-identical, where the
    // former round(z, 6) hit TRUE half-way ties (sw/3200 has exact 7-digit
    // decimal expansions, so the 7th digit is legitimately 5 and the two
    // engines' half-up conventions split — 2/5000 rows at sf0.1; the
    // QueryDef "no round-half-tie formulas" rule, violated and now
    // honored). The keep/drop label tests the all-integer sw > 0. Scale:
    // one explode + one codegen md5 + a doc_id-keyed agg with map-side
    // partial sums — the minhash shape, linear in corpus size, no joins.
    QueryDef(
      "x61_quality_classifier",
      (s, d) => {
        val dig = (i: Int) =>
          s"(instr('0123456789abcdef', substring(hx, $i, 1)) - 1)"
        documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .withColumn("hx", md5(col("tok").cast("binary")))
          .withColumn("b",
            expr(s"${dig(1)} * 256 + ${dig(2)} * 16 + ${dig(3)}"))
          .withColumn("wn", expr("(b * 193 + 71) % 1024 - 512"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"), sum("wn").as("sw"))
          .select(
            col("doc_id"), col("n_toks"),
            floor((lit(8000000.0) * col("sw")) / (lit(1024.0) * col("n_toks")))
              .cast(LongType).as("z_ppm"),
            when(col("sw") > 0, "keep").otherwise("drop").as("label"))
          .orderBy("doc_id")
      },
      Some {
        val dig = (i: Int) => s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1)"
        s"""WITH t0 AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
           |th AS (SELECT doc_id, md5(tok) AS hx FROM t0),
           |tb AS (SELECT doc_id,
           |  ${dig(1)} * 256 + ${dig(2)} * 16 + ${dig(3)} AS b FROM th),
           |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
           |  CAST(sum((b * 193 + 71) % 1024 - 512) AS BIGINT) AS sw FROM tb GROUP BY 1)
           |SELECT doc_id, n_toks,
           |  CAST(floor((8000000.0 * sw) / (1024.0 * n_toks)) AS BIGINT) AS z_ppm,
           |  CASE WHEN sw > 0 THEN 'keep' ELSE 'drop' END AS label
           |FROM agg ORDER BY doc_id""".stripMargin
      }),

    // CHARACTER-BIGRAM DIVERSITY FILTER (x62) — the exact, log-free
    // Rényi-2 surrogate for the compression-ratio quality heuristic:
    // publish per-doc bigram moments (n, distinct, Σc²) from the fused
    // one-pass BigramDiversity Expression, derive the effective alphabet
    // size n²/Σc² (monotone in Rényi-2 entropy), and flag repetitive docs.
    // The Spark side is ZERO-shuffle per row (codegen scan); the DuckDB
    // twin is the explode + two-aggregate formulation — so the gate also
    // differentially checks the fused expression against the compositional
    // semantics, the TextStats pattern.
    QueryDef(
      "x62_bigram_diversity",
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"),
            graft.functions.BigramDiversity.diversity(col("text")).as("bd"))
          .select(
            col("doc_id"),
            col("bd.n_bigrams").as("n_bigrams"),
            col("bd.n_distinct").as("n_distinct"),
            col("bd.sum_sq").as("sum_sq"))
          .filter(col("n_bigrams") > 0)
          .withColumn("eff_alphabet",
            round(
              (col("n_bigrams") * col("n_bigrams")).cast(DoubleType) /
                col("sum_sq").cast(DoubleType), 6))
          .withColumn("repetitive", col("eff_alphabet") < 64.0)
          .orderBy("doc_id"),
      Some("""WITH bg AS (SELECT doc_id,
             |  list_transform(range(1, len(text)), i -> substr(text, i, 2)) AS bgs
             |  FROM documents WHERE len(text) >= 2),
             |cnt AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM bg) GROUP BY 1, 2),
             |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             |  CAST(count(*) AS BIGINT) AS n_distinct,
             |  CAST(sum(c * c) AS BIGINT) AS sum_sq FROM cnt GROUP BY 1)
             |SELECT doc_id, n_bigrams, n_distinct, sum_sq,
             |  round(CAST(n_bigrams * n_bigrams AS DOUBLE) / CAST(sum_sq AS DOUBLE), 6)
             |    AS eff_alphabet,
             |  CAST(n_bigrams * n_bigrams AS DOUBLE) / CAST(sum_sq AS DOUBLE) < 64.0
             |    AS repetitive
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // CONTENT-DEFINED CHUNK DEDUP (x63) — chunk-level dedup accounting
    // over the cloned corpus: CDC-split every document (CdcChunks, the
    // one-pass codegen scan; boundaries are position-local so both engines
    // can evaluate them independently per position), hash each chunk, and
    // report per-source chunk dedup ratios. Chunk identity is md5 of the
    // chunk text, so storage-level dedup (the CAS/backup use case) and
    // training-corpus near-dup accounting share one mechanism.
    //
    // Scale: explode + codegen md5 + ONE source-keyed aggregate with
    // map-side partials; distinct-chunk counting inside the agg is exact
    // (count distinct md5) — the documented 100 TB swap is
    // approx_count_distinct (HLL), the x20→x37 pattern.
    QueryDef(
      "x63_cdc_chunk_dedup",
      (s, d) =>
        docCorpus(s, d)
          .select(col("source"),
            explode(graft.functions.CdcChunks.chunks(col("text"))).as("chunk"))
          .select(col("source"), md5(col("chunk").cast("binary")).as("ch"),
            length(col("chunk")).as("clen"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_chunks"),
            countDistinct(col("ch")).as("n_distinct"),
            (count(lit(1)) - countDistinct(col("ch"))).as("n_dup"),
            round(sum(col("clen")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_chunk_len"))
          .orderBy("source"),
      Some {
        val pows = Seq(27512614111L, 887503681L, 28629151L, 923521L,
          29791L, 961L, 31L, 1L)
        val hashExpr = pows.zipWithIndex.map { case (p, k) =>
          // ascii() is INT32 in DuckDB; the 31^k weights overflow it
          s"CAST(ascii(substr(text, CAST(p AS INTEGER) - ${7 - k}, 1)) AS BIGINT) * $p"
        }.mkString(" + ")
        s"""WITH $corpusSql,
           |cuts AS (SELECT doc_id, source, text, len(text) AS L,
           |  list_filter(range(8, len(text) + 1), p -> ($hashExpr) % 64 = 0) AS cps
           |  FROM corpus WHERE len(text) > 0),
           |bnds AS (SELECT doc_id, source, text,
           |  [CAST(0 AS BIGINT)] || cps ||
           |    CASE WHEN len(cps) > 0 AND cps[-1] = L THEN []
           |         ELSE [CAST(L AS BIGINT)] END AS bs FROM cuts),
           |chunks AS (SELECT source,
           |  unnest(list_transform(range(1, len(bs)),
           |    i -> substr(text, CAST(bs[i] AS INTEGER) + 1,
           |                CAST(bs[i + 1] - bs[i] AS INTEGER)))) AS chunk
           |  FROM bnds),
           |ch AS (SELECT source, md5(chunk) AS h, len(chunk) AS clen FROM chunks)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
           |  CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup,
           |  round(sum(clen) / CAST(count(*) AS DOUBLE), 6) AS avg_chunk_len
           |FROM ch GROUP BY 1 ORDER BY source""".stripMargin
      }),

    // PERCEPTUAL IMAGE NEAR-DUP (x64) — dHash over REAL decoded P6 PPM
    // pixels (ImageHash.dhashPpm: header parse + 72 nearest-neighbor
    // luminance reads per image), the image twin of text exact-dedup x01.
    // Fixture: deterministic PPMs built byte-identically per the x27
    // dual-dialect pattern, each with a perturbed clone whose LAST pixel
    // byte differs — a genuine near-duplicate (different blob, same hash,
    // because the nearest-neighbor grid never samples the final pixel for
    // w,h ≥ 10). The DuckDB twin recomputes grid luminances independently
    // from the generative pixel formula and folds the same 64 bits — so
    // Spark's header/offset arithmetic in the real decode path is
    // engine-differentially checked.
    //
    // Scale: blob synthesis is per-row narrow; the decode is O(72) byte
    // reads per image regardless of size (mapPartitions, no shuffle); the
    // dedup is a hash-window over ≤ |images| rows.
    QueryDef(
      "x64_image_dhash",
      (s, d) => {
        val base = documents(s, d).filter(col("doc_id") < 24)
          .select(col("doc_id"),
            (lit(10) + col("doc_id") % 28).cast("int").as("w"),
            (lit(10) + col("doc_id") % 14).cast("int").as("h"))
        val both = base.withColumn("pert", lit(0))
          .unionByName(base.withColumn("pert", lit(1)))
        val headHex = "hex(CAST(concat('P6', char(10), CAST(w AS STRING), ' ', " +
          "CAST(h AS STRING), char(10), '255', char(10)) AS BINARY))"
        val pxHex = "array_join(transform(sequence(0, w * h * 3 - 1), i -> " +
          "lpad(hex((doc_id * 7 + i * 13 + " +
          "IF(pert = 1 AND i = w * h * 3 - 1, 1, 0)) % 256), 2, '0')), '')"
        val blobs = both
          .withColumn("hx", expr(s"concat($headHex, $pxHex)"))
          .select((col("doc_id") + col("pert") * 100).as("media_id"),
            unhex(col("hx")).as("media"))
        graft.ops.ImageHash.dhashes(blobs)
          .select(col("media_id"), col("dhash"))
          .withColumn("n_same",
            count(lit(1)).over(Window.partitionBy("dhash")))
          .orderBy("media_id")
      },
      Some("""WITH b AS (SELECT doc_id, 10 + doc_id % 28 AS w, 10 + doc_id % 14 AS h
             |  FROM documents WHERE doc_id < 24),
             |m AS (SELECT doc_id, w, h, pert, doc_id + 100 * pert AS media_id
             |  FROM b, (SELECT unnest([0, 1]) AS pert)),
             |g AS (SELECT media_id, doc_id, w, h, pert, r1.gx, r2.gy,
             |    (r1.gx * w) // 9 AS sx, (r2.gy * h) // 8 AS sy
             |  FROM m, range(0, 9) r1(gx), range(0, 8) r2(gy)),
             |px AS (SELECT media_id, gx, gy,
             |    ((doc_id * 7 + ((sy * w + sx) * 3 + 0) * 13 +
             |      CASE WHEN pert = 1 AND (sy * w + sx) * 3 + 0 = w * h * 3 - 1 THEN 1 ELSE 0 END) % 256) AS c0,
             |    ((doc_id * 7 + ((sy * w + sx) * 3 + 1) * 13 +
             |      CASE WHEN pert = 1 AND (sy * w + sx) * 3 + 1 = w * h * 3 - 1 THEN 1 ELSE 0 END) % 256) AS c1,
             |    ((doc_id * 7 + ((sy * w + sx) * 3 + 2) * 13 +
             |      CASE WHEN pert = 1 AND (sy * w + sx) * 3 + 2 = w * h * 3 - 1 THEN 1 ELSE 0 END) % 256) AS c2
             |  FROM g),
             |lum AS (SELECT media_id, gx, gy,
             |    (299 * c0 + 587 * c1 + 114 * c2) // 1000 AS lum FROM px),
             |bits AS (SELECT l1.media_id, l1.gy * 8 + l1.gx AS k,
             |    CASE WHEN l2.lum > l1.lum THEN 1 ELSE 0 END AS bit
             |  FROM lum l1 JOIN lum l2 ON l2.media_id = l1.media_id
             |    AND l2.gy = l1.gy AND l2.gx = l1.gx + 1
             |  WHERE l1.gx < 8),
             |hsh AS (SELECT media_id,
             |    CAST(sum(CASE WHEN k >= 32 THEN bit * (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS hi,
             |    CAST(sum(CASE WHEN k < 32 THEN bit * (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS lo
             |  FROM bits GROUP BY 1),
             |hx AS (SELECT media_id,
             |    lower(lpad(hex(hi), 8, '0') || lpad(hex(lo), 8, '0')) AS dhash FROM hsh)
             |SELECT media_id, dhash,
             |  CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
             |FROM hx ORDER BY media_id""".stripMargin))
  )

  /** x65+ — third Seq (the retrieval initializer is near the JVM's 64 KB
    * method-size limit). */
  private lazy val corpusEval: Seq[QueryDef] = Seq(

    // ROBUST WINNOWING FINGERPRINTS (x65) — the MOSS local-fingerprinting
    // scheme: every window of 4 consecutive char-5-gram hashes selects its
    // minimum, so any shared substring of ≥ 8 chars is GUARANTEED to share
    // a fingerprint (the detection floor x11's global k-min sketch cannot
    // promise). Corpus = documents ∪ a partial clone set (doc_id%3=0,
    // +10000) so shared_frac separates true clones (1.0) from background.
    //
    // Scale posture: position explode + codegen md5 are narrow; the
    // winnowing window AND the (doc, fp) distinct ride ONE doc_id exchange
    // (distinct groups on a superset of the window key — subset rule); the
    // only other exchange is fp-keyed and carries 8-hex-char fingerprints,
    // never text (x53's digest discipline). Plan-pinned.
    QueryDef(
      "x65_winnowing",
      (s, d) => {
        val doc = documents(s, d).select(col("doc_id"), col("text"))
        val corpus = doc.unionByName(
          documents(s, d).filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        val w4 = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.currentRow, 3)
        val fps = corpus
          .filter(length(col("text")) >= 8)
          .select(col("doc_id"), col("text"),
            (length(col("text")) - 7).cast(LongType).as("n_win"))
          .select(col("doc_id"), col("n_win"),
            explode(sequence(lit(1L), col("n_win") + lit(3L))).as("pos"),
            col("text"))
          .withColumn("h",
            expr("substring(md5(cast(substring(text, pos, 5) as binary)), 1, 8)"))
          .withColumn("fp", min(col("h")).over(w4))
          .filter(col("pos") <= col("n_win"))
          .select("doc_id", "fp").distinct()
        fps
          .withColumn("n_docs_fp",
            count(lit(1)).over(Window.partitionBy("fp")))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_fp"),
            sum(when(col("n_docs_fp") > 1, 1L).otherwise(0L))
              .cast(LongType).as("n_shared"))
          .withColumn("shared_frac",
            round(col("n_shared") / col("n_fp").cast(DoubleType), 6))
          .orderBy("doc_id")
      },
      Some("""WITH corpus AS (SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 3 = 0),
             |base AS (SELECT doc_id, text, CAST(len(text) - 7 AS BIGINT) AS n_win
             |  FROM corpus WHERE len(text) >= 8),
             |kg AS (SELECT doc_id, n_win, CAST(p AS BIGINT) AS pos,
             |  substr(md5(substr(text, CAST(p AS INTEGER), 5)), 1, 8) AS h
             |  FROM base, unnest(range(1, n_win + 4)) AS t(p)),
             |wn AS (SELECT doc_id, n_win, pos,
             |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM kg),
             |fps AS (SELECT DISTINCT doc_id, fp FROM wn WHERE pos <= n_win),
             |sh AS (SELECT doc_id, fp,
             |  count(*) OVER (PARTITION BY fp) AS n_docs_fp FROM fps)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
             |  CAST(sum(CASE WHEN n_docs_fp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             |  round(sum(CASE WHEN n_docs_fp > 1 THEN 1 ELSE 0 END)
             |    / CAST(count(*) AS DOUBLE), 6) AS shared_frac
             |FROM sh GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // URL / DOMAIN ANALYSIS (x66) — the crawl-curation step before any
    // text filter: parse registrable host, path segments, and query params
    // out of each document's URL, then aggregate corpus composition per
    // domain. URLs are synthesized deterministically from fixture columns;
    // Spark parses with the REAL `parse_url` expression while the oracle
    // re-parses with independent regexes — so Spark's URL semantics (host
    // vs path vs query-param extraction) are engine-differentially checked.
    //
    // Scale posture: synthesis + parse are narrow codegen; ONE host-keyed
    // partial-combined aggregate; output is domain-sized.
    QueryDef(
      "x66_domain_stats",
      (s, d) => {
        val u = documents(s, d).withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.org/"),
            col("lang"), lit("/doc-"), col("doc_id").cast("string"),
            lit("?ref="), upper(col("source")),
            lit("&page="), pmod(col("doc_id"), lit(7L)).cast("string")))
        u.select(col("doc_id"), col("n_chars"),
            parse_url(col("url"), lit("HOST")).as("host"),
            parse_url(col("url"), lit("PATH")).as("path"),
            parse_url(col("url"), lit("QUERY"), lit("page"))
              .cast(LongType).as("page"))
          .groupBy("host")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(split(col("path"), "/").getItem(1)).as("n_langs"),
            max(col("page")).as("max_page"),
            sum(col("n_chars")).cast(LongType).as("total_chars"))
          .orderBy("host")
      },
      Some("""WITH u AS (SELECT doc_id, n_chars,
             |  'https://' || source || '.example.org/' || lang || '/doc-' || doc_id
             |    || '?ref=' || upper(source) || '&page=' || (doc_id % 7) AS url
             |  FROM documents),
             |p AS (SELECT doc_id, n_chars,
             |  regexp_extract(url, 'https://([^/]+)/', 1) AS host,
             |  regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
             |  CAST(regexp_extract(url, '[?&]page=([0-9]+)', 1) AS BIGINT) AS page
             |  FROM u)
             |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT string_split(path, '/')[2]) AS BIGINT) AS n_langs,
             |  max(page) AS max_page,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM p GROUP BY 1 ORDER BY host""".stripMargin)),

    // GOPHER-STYLE REPETITION SIGNALS (x67) — the published Rao et al.
    // repetition filters x26 (consecutive collapse) and x62 (char-bigram
    // entropy) don't cover: per doc, the fraction of tokens claimed by the
    // single most frequent token, and the fraction of word-3-gram
    // OCCURRENCES that are duplicates within the doc. Both are exact
    // integer ratios → one IEEE division each (no libm).
    //
    // Scale posture: the token and trigram branches each stack two hash
    // aggregates keyed by doc_id-supersets, so BOTH ride the loader's
    // doc_id clustering with ZERO operator exchanges; the final doc_id
    // join is exchange-free for the same reason (plan-pinned: no
    // hash-exchange at all).
    QueryDef(
      "x67_gopher_repetition",
      (s, d) => {
        val tokStats = documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).cast(LongType).as("n_tokens"),
            max(col("c")).cast(LongType).as("top_c"))
        val tris = documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"),
            explode(graft.ops.TextDedup.shingles(col("tk"))).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).cast(LongType).as("n_tri"),
            sum(when(col("c") >= 2, col("c")).otherwise(0L))
              .cast(LongType).as("dup_tri"))
        tokStats.join(tris, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            round(col("top_c") / col("n_tokens").cast(DoubleType), 6)
              .as("top_tok_frac"),
            coalesce(col("n_tri"), lit(0L)).as("n_tri"),
            round(coalesce(col("dup_tri"), lit(0L))
              / greatest(coalesce(col("n_tri"), lit(0L)), lit(1L))
                .cast(DoubleType), 6).as("dup_tri_frac"))
          .withColumn("flagged",
            col("top_tok_frac") > 0.2 || col("dup_tri_frac") > 0.3)
          .orderBy("doc_id")
      },
      Some(s"""WITH t0 AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
             |tc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM t0 GROUP BY 1, 2),
             |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             |  CAST(max(c) AS BIGINT) AS top_c FROM tc GROUP BY 1),
             |tk0 AS (SELECT doc_id, $tokensSql AS tk FROM documents),
             |g0 AS (SELECT doc_id, unnest($shinglesSql) AS g FROM tk0
             |  WHERE len(tk) >= 3),
             |gc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
             |  FROM g0 GROUP BY 1, 2),
             |gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri,
             |  CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_tri
             |  FROM gc GROUP BY 1),
             |j AS (SELECT ts.doc_id, n_tokens,
             |  round(top_c / CAST(n_tokens AS DOUBLE), 6) AS top_tok_frac,
             |  coalesce(n_tri, 0) AS n_tri,
             |  round(coalesce(dup_tri, 0)
             |    / CAST(greatest(coalesce(n_tri, 0), 1) AS DOUBLE), 6) AS dup_tri_frac
             |  FROM ts LEFT JOIN gs ON ts.doc_id = gs.doc_id)
             |SELECT doc_id, n_tokens, top_tok_frac, CAST(n_tri AS BIGINT) AS n_tri,
             |  dup_tri_frac,
             |  (top_tok_frac > 0.2 OR dup_tri_frac > 0.3) AS flagged
             |FROM j ORDER BY doc_id""".stripMargin)),

    // VOCABULARY COVERAGE / OOV RATE (x68) — tokenizer-eval staple: build
    // the top-500 corpus vocabulary (count desc, token asc — a total order,
    // so the rank-500 boundary is deterministic in both engines), then
    // score every document's out-of-vocabulary token rate against it.
    //
    // Scale posture: vocab = one tok-keyed partial-combined agg +
    // TakeOrdered(500) (never a global sort); the 500-row vocab broadcasts
    // into the probe, whose per-doc aggregate rides the loader's doc_id
    // clustering — the corpus never shuffles for membership (x19/x49's
    // broadcast-probe argument). Plan-pinned.
    QueryDef(
      "x68_vocab_coverage",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(500)
          .select(col("tok"), lit(1L).as("in_v"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(coalesce(col("in_v"), lit(0L))).cast(LongType).as("n_covered"))
          .withColumn("oov_rate",
            round(lit(1.0) - col("n_covered") / col("n_tokens").cast(DoubleType), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH t0 AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
             |vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM t0
             |  GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 500)),
             |pr AS (SELECT doc_id, t0.tok,
             |  CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END AS in_v
             |  FROM t0 LEFT JOIN vocab v ON t0.tok = v.tok)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(in_v) AS BIGINT) AS n_covered,
             |  round(1.0 - sum(in_v) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
             |FROM pr GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ANN RECALL@10 MEASUREMENT (x69) — the quality gate every approximate
    // index needs next to its speed gate: for a deterministic query sample
    // (vec_id % 23 = 0), compare sign-LSH-bucketed ANN (4-bit buckets, the
    // x06 family) against brute-force ground truth, reporting per-query
    // candidate count, hits, and recall@10. Similarity reuses the fused
    // CosineSimilarity expression whose IEEE parity with the oracle's
    // list_dot_product formula q21 already gates.
    //
    // Scale posture: the query sample broadcasts into BOTH the ground-truth
    // pass (query-partitioned top-10 windows over |Q|×n candidate rows —
    // the documented brute-force cost that motivates the bucketed path) and
    // the bucket pass (candidates only within the query's bucket); the
    // recall join is per-(query, neighbor) over ≤ 10·|Q| rows.
    QueryDef(
      "x69_ann_recall",
      (s, d) => {
        val e = embeddings(s, d).select("vec_id", "embedding")
        // query sample is FIXED-SIZE at scale: the modulus alone grows the
        // sample with the corpus, turning |Q|x n ground truth quadratic
        // (511 s-class at 100x); vec_id < 20000 pins it to the replica-0
        // id range, so sf<=0.1 results are bit-identical and larger
        // fixtures measure recall on the same bounded sample — the
        // standard ANN-benchmark posture (fixed query set, full corpus).
        val q = e.filter(pmod(col("vec_id"), lit(23L)) === 0 &&
            col("vec_id") < 20000)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            graft.ops.TextDedup.signBucket(col("embedding"), 4).as("q_bkt"))
        val c = e.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          graft.ops.TextDedup.signBucket(col("embedding"), 4).as("c_bkt"))
        val wq = Window.partitionBy("q_id").orderBy(col("sim").desc, col("c_id"))
        val gt = c.join(broadcast(q)).filter(col("c_id") =!= col("q_id"))
          .withColumn("sim", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
          .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
          .select("q_id", "c_id")
        val cand = c.join(broadcast(q), col("c_bkt") === col("q_bkt"))
          .filter(col("c_id") =!= col("q_id"))
        val ivf = cand
          .withColumn("sim", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
          .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
          .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
        val nCand = cand.groupBy("q_id").agg(count(lit(1)).as("n_cand"))
        gt.join(ivf, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).cast(LongType).as("n_hits"))
          .join(broadcast(nCand), Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            col("n_hits"),
            round(col("n_hits") / lit(10.0), 6).as("recall"))
          .orderBy("q_id")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
             |  ${(1 to 4).map(i => s"(CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")} AS bkt
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm, bkt AS q_bkt
             |  FROM e WHERE vec_id % 23 = 0 AND vec_id < 20000),
             |gt AS (SELECT q_id, c_id FROM (SELECT q_id, c.vec_id AS c_id,
             |    row_number() OVER (PARTITION BY q_id ORDER BY
             |      list_dot_product(q_emb, c.emb) / (q_norm * c.norm) DESC, c.vec_id) AS rn
             |  FROM q JOIN e c ON c.vec_id <> q_id) WHERE rn <= 10),
             |cand AS (SELECT q_id, q_emb, q_norm, c.vec_id AS c_id, c.emb AS c_emb,
             |    c.norm AS c_norm FROM q JOIN e c ON c.bkt = q_bkt AND c.vec_id <> q_id),
             |ivf AS (SELECT q_id, c_id, 1 AS hit FROM (SELECT q_id, c_id,
             |    row_number() OVER (PARTITION BY q_id ORDER BY
             |      list_dot_product(q_emb, c_emb) / (q_norm * c_norm) DESC, c_id) AS rn
             |  FROM cand) WHERE rn <= 10),
             |nc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY 1),
             |hits AS (SELECT g.q_id, CAST(sum(coalesce(i.hit, 0)) AS BIGINT) AS n_hits
             |  FROM gt g LEFT JOIN ivf i ON g.q_id = i.q_id AND g.c_id = i.c_id
             |  GROUP BY 1)
             |SELECT h.q_id AS q_id, coalesce(nc.n_cand, 0) AS n_cand, h.n_hits,
             |  round(h.n_hits / 10.0, 6) AS recall
             |FROM hits h LEFT JOIN nc ON h.q_id = nc.q_id ORDER BY h.q_id""".stripMargin)),

    // DETERMINISTIC TRAINING-ORDER SHUFFLE (x70) — the reproducible global
    // permutation a training run needs (data order is part of the
    // experiment): permutation key = md5("order:" || doc_id), shard = first
    // hex nibble (16 shards), within-shard order = (key, doc_id). The gate
    // pins the PERMUTATION itself via an order-sensitive checksum
    // (Σ rank·doc_id — any transposition changes it), not just shard counts.
    //
    // Scale posture: key/shard assignment is narrow codegen (x17's
    // argument); the rank window partitions by shard — at 100 TB, shards
    // become (shard, hash-subshard) with per-subshard ranks offset by
    // broadcast subshard counts (x48's two-level pass); the checksum uses
    // exact integer arithmetic (DECIMAL swap documented past 2^63).
    QueryDef(
      "x70_training_order",
      (s, d) => {
        val w = Window.partitionBy("shard").orderBy("k", "doc_id")
        documents(s, d).select(col("doc_id"))
          .withColumn("k",
            md5(concat(lit("order:"), col("doc_id").cast("string")).cast("binary")))
          .withColumn("shard",
            (expr("instr('0123456789abcdef', substring(k, 1, 1))") - 1)
              .cast(LongType))
          .withColumn("rank", row_number().over(w).cast(LongType))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("rank") * col("doc_id")).cast(LongType).as("order_checksum"),
            min(col("k")).as("first_key"), max(col("k")).as("last_key"))
          .orderBy("shard")
      },
      Some("""WITH a AS (SELECT doc_id, md5('order:' || doc_id) AS k FROM documents),
             |sh AS (SELECT doc_id, k,
             |  CAST(instr('0123456789abcdef', substr(k, 1, 1)) - 1 AS BIGINT) AS shard
             |  FROM a),
             |r AS (SELECT doc_id, k, shard,
             |  CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS rank
             |  FROM sh)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(rank * doc_id) AS BIGINT) AS order_checksum,
             |  min(k) AS first_key, max(k) AS last_key
             |FROM r GROUP BY 1 ORDER BY shard""".stripMargin)),

    // TRAIN/VAL SPLIT LEAKAGE AUDIT (x71) — the eval-integrity check that
    // composes x17 (hash split) with x01 (exact dedup) and x18 (LSH
    // components): a val document leaks when its EXACT content hash, or
    // its NEAR-DUP component, contains a train document. The cloned corpus
    // guarantees positive leaks (a doc and its clone hash-split
    // independently). Consumes the session-shared LSH pair frame
    // (SharedCache, x18/x25/x38's frame — computed once per session).
    //
    // Scale posture: split + md5 are narrow; the frame is pruned to
    // (doc_id, split, h, can) BEFORE the audit joins, so the two grouped
    // has-train tables and their probe joins exchange 16-byte digests and
    // ids, never text; both stats tables key the same way as their probe
    // side (h→h, can→can), so each join reuses its aggregate's exchange.
    QueryDef(
      "x71_split_leakage",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val pairs = lshPairsShared(s, d, corpus)
        val mapping = graft.ops.TextDedup.dedupMappingFromPairs(corpus, pairs)
        val withCan = corpus
          .withColumn("split",
            graft.ops.Sampling.splitColumn(col("doc_id"), "split", 0.8))
          .withColumn("h", md5(col("text").cast("binary")))
          .join(mapping.select(col("doc_id"), col("canonical_id")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("split"), col("h"),
            coalesce(col("canonical_id"), col("doc_id")).as("can"))
          // three consumers (both leak-stat tables + the probe) — one
          // materialization of the pruned ids+digest frame
          .localCheckpoint(true)
        val isTrain = when(col("split") === "train", 1L).otherwise(0L)
        val hstat = withCan.groupBy("h").agg(max(isTrain).as("h_has_train"))
        val cstat = withCan.groupBy("can").agg(max(isTrain).as("c_has_train"))
        withCan.filter(col("split") === "val")
          .join(hstat, Seq("h"))
          .join(cstat, Seq("can"))
          .select(col("doc_id"),
            (col("h_has_train") === 1L).as("exact_leak"),
            (col("c_has_train") === 1L).as("neardup_leak"))
          .orderBy("doc_id")
      },
      Some(s"""$dedupComponentsCtes,
             |sp AS (SELECT c.doc_id,
             |  CASE WHEN substring(md5(c.doc_id::VARCHAR || ':split'), 1, 8) < 'cccccccc'
             |    THEN 'train' ELSE 'val' END AS split,
             |  md5(c.text) AS h, cmap.canonical_id AS can
             |  FROM corpus c JOIN cmap ON c.doc_id = cmap.doc_id),
             |hs AS (SELECT h, max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ht
             |  FROM sp GROUP BY 1),
             |cs AS (SELECT can, max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct
             |  FROM sp GROUP BY 1)
             |SELECT sp.doc_id, (ht = 1) AS exact_leak, (ct = 1) AS neardup_leak
             |FROM sp JOIN hs ON sp.h = hs.h JOIN cs ON sp.can = cs.can
             |WHERE split = 'val' ORDER BY sp.doc_id""".stripMargin)),

    // PER-DIMENSION EMBEDDING STANDARDIZATION (x72) — the whitening-prep
    // transform x58's covariance diagnoses: z = (x − μ)/σ per dimension,
    // gated on the TRANSFORM's output moments. μ/σ come from exact decimal
    // first/second moments cast once to double (x58's shared-IEEE-tree
    // discipline; sqrt is correctly-rounded); the verification re-sums
    // floor-quantized z and z² (x21/x29's floor discipline — floor is
    // exact in both engines), so summation order never shows.
    //
    // Scale posture: posexplode is narrow; the per-dim stats agg is a
    // 64-row partial-combined exchange broadcast back; the z pass and its
    // per-dim verification agg are one more bounded exchange — constant
    // width regardless of corpus size, the x58 argument.
    QueryDef(
      "x72_embed_standardize",
      (s, d) => {
        val dims = embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
          .select(col("vec_id"), col("i").cast(LongType).as("i"),
            col("x").cast(DoubleType).as("xd"))
        val stats = dims.groupBy("i")
          .agg(count(lit(1)).as("n"),
            sum(col("xd").cast(DecimalType(18, 8))).as("sx"),
            sum((col("xd") * col("xd")).cast(DecimalType(18, 8))).as("sxx"))
          .select(col("i"), col("n"),
            (col("sx").cast(DoubleType) / col("n")).as("mu"),
            sqrt(col("sxx").cast(DoubleType) / col("n")
              - (col("sx").cast(DoubleType) / col("n"))
                * (col("sx").cast(DoubleType) / col("n"))).as("sigma"))
        dims.join(broadcast(stats), Seq("i"))
          .withColumn("z", (col("xd") - col("mu")) / col("sigma"))
          .groupBy("i")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("z") * lit(1000000.0)).cast(LongType)).as("szq"),
            sum(floor(col("z") * col("z") * lit(1000000.0)).cast(LongType))
              .as("szzq"))
          .select(col("i"), col("n"),
            // + 0.0 collapses IEEE −0.0 (a standardized mean rounds to ±0
            // constantly) so both engines render the same string.
            (round(col("szq") / col("n").cast(DoubleType) / lit(1000000.0), 6)
              + lit(0.0)).as("mean_z"),
            round(col("szzq") / col("n").cast(DoubleType) / lit(1000000.0), 6)
              .as("var_z"))
          .orderBy("i")
      },
      Some("""WITH x AS (SELECT vec_id,
             |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             |  CAST(unnest(embedding) AS DOUBLE) AS xd FROM embeddings),
             |m AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
             |  sum(CAST(xd AS DECIMAL(18,8))) AS sx,
             |  sum(CAST(xd * xd AS DECIMAL(18,8))) AS sxx FROM x GROUP BY 1),
             |st AS (SELECT i, n, CAST(sx AS DOUBLE) / n AS mu,
             |  sqrt(CAST(sxx AS DOUBLE) / n
             |    - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS sigma
             |  FROM m),
             |z AS (SELECT x.i, (xd - mu) / sigma AS z FROM x JOIN st ON x.i = st.i)
             |SELECT i, CAST(count(*) AS BIGINT) AS n,
             |  round(sum(CAST(floor(z * 1000000.0) AS BIGINT))
             |    / CAST(count(*) AS DOUBLE) / 1000000.0, 6) + 0.0 AS mean_z,
             |  round(sum(CAST(floor(z * z * 1000000.0) AS BIGINT))
             |    / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS var_z
             |FROM z GROUP BY 1 ORDER BY i""".stripMargin)),

    // WEIGHTED PRIORITY SAMPLING (x73) — deterministic weighted sampling
    // without replacement (Duffield/Lund/Thorup priority sampling): each
    // doc gets priority w/u with u uniform from its content-independent id
    // hash, and the top-k priorities per source are the sample. Longer docs
    // (w = n_chars) are proportionally more likely to be kept — the
    // standard size-weighted corpus subsample, reproducible across runs
    // and engines (x17's hash-not-rand argument).
    //
    // Exactness: u's integer v is 8 hex chars = 32 bits, so v+1 and w are
    // both EXACTLY representable doubles, and the only float ops are one
    // multiply and one divide — correctly rounded IEEE in both engines →
    // bit-identical priorities; ties (impossible at 32 bits apart) break
    // by doc_id in the ORDER anyway.
    //
    // Scale posture: priority is a narrow expression; rank-per-source
    // rides ONE source exchange (plan-pinned). At 100 TB swap the window
    // rank for the bounded TopKAggregator (x13) so the shuffle carries
    // ≤ k rows per source rather than the corpus.
    QueryDef(
      "x73_weighted_sample",
      (s, d) => {
        val v = conv(substring(
          md5(concat(col("doc_id").cast("string"), lit(":ws")).cast("binary")),
          1, 8), 16, 10).cast(LongType)
        val prio = (col("n_chars").cast(DoubleType) * lit(4294967296.0)) /
          (v + lit(1L)).cast(DoubleType)
        val wr = Window.partitionBy("source")
          .orderBy(col("prio").desc, col("doc_id"))
        docCorpus(s, d)
          .withColumn("prio", prio)
          .withColumn("rk", row_number().over(wr).cast(LongType))
          .filter(col("rk") <= 20)
          .select(col("source"), col("rk"), col("doc_id"), col("n_chars"))
          .orderBy("source", "rk")
      },
      Some(s"""WITH $corpusSql,
             |hxs AS (SELECT source, doc_id, n_chars,
             |  substring(md5(doc_id::VARCHAR || ':ws'), 1, 8) AS hx FROM corpus),
             |pr AS (SELECT source, doc_id, n_chars,
             |  CAST(n_chars AS DOUBLE) * 4294967296.0 / CAST($hex8D + 1 AS DOUBLE) AS prio
             |  FROM hxs),
             |rk AS (SELECT source, doc_id, n_chars,
             |  row_number() OVER (PARTITION BY source ORDER BY prio DESC, doc_id) AS rk
             |  FROM pr)
             |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars
             |FROM rk WHERE rk <= 20 ORDER BY source, rk""".stripMargin)),

    // SPAN-CORRUPTION STATISTICS (x74) — the T5/UL2 denoising-objective
    // prep pass: each token is masked with p = 0.15 by a deterministic
    // hash coin, contiguous masked runs collapse into single sentinel
    // spans, and the op reports per-doc input/target sequence lengths
    // (input = kept tokens + one sentinel per span; target = masked tokens
    // + one sentinel per span) — the numbers a packing stage (x48) budgets
    // by. Run-detection is the lag() runs idiom (q53/x52's discipline).
    //
    // Scale posture: tokenize + explode + the coin are narrow; the run
    // window and the per-doc aggregate ride the SAME doc_id exchange
    // (plan-pinned, subset rule); window partitions are doc-length
    // bounded. All-integer outputs — exact by construction.
    QueryDef(
      "x74_span_corruption",
      (s, d) => {
        val wt = Window.partitionBy("doc_id").orderBy("pos")
        val toks = docCorpus(s, d)
          .select(col("doc_id"),
            posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        val masked = toks.withColumn("m",
          when(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
            col("pos").cast("string"), lit(":mask")).cast("binary")), 1, 8)
            < lit("26666666"), 1L).otherwise(0L))
        masked
          .withColumn("prev_m", lag(col("m"), 1, 0L).over(wt))
          .withColumn("span_start",
            when(col("m") === 1L && col("prev_m") === 0L, 1L).otherwise(0L))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("m")).as("n_masked"),
            sum(col("span_start")).as("n_spans"))
          .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("n_spans"),
            (col("n_tokens") - col("n_masked") + col("n_spans")).as("input_len"),
            (col("n_masked") + col("n_spans")).as("target_len"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $corpusSql,
             |tk AS (SELECT doc_id, $tokensSql AS tks FROM corpus),
             |tok AS (SELECT doc_id,
             |  CAST(generate_subscripts(tks, 1) - 1 AS BIGINT) AS pos
             |  FROM tk),
             |mk AS (SELECT doc_id, pos,
             |  CASE WHEN substring(md5(doc_id::VARCHAR || ':' || pos::VARCHAR || ':mask'), 1, 8)
             |    < '26666666' THEN 1 ELSE 0 END AS m
             |  FROM tok),
             |rn AS (SELECT doc_id, m,
             |  coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS prev_m
             |  FROM mk)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(m) AS BIGINT) AS n_masked,
             |  CAST(sum(CASE WHEN m = 1 AND prev_m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
             |  CAST(count(*) - sum(m) + sum(CASE WHEN m = 1 AND prev_m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS input_len,
             |  CAST(sum(m) + sum(CASE WHEN m = 1 AND prev_m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS target_len
             |FROM rn GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // DEDUP AUDIT / CLUSTER-SIZE HISTOGRAM (x75) — the report a dedup run
    // ships with: how many near-dup clusters exist at each size, how many
    // docs they hold, and how many rows a canonical-only rewrite drops.
    // Consumes the session-shared LSH pair frame (SharedCache — the same
    // frame x18/x25/x38/x71 share; computed once per session) — at 100 TB
    // the audit is a ~free byproduct of the dedup pass, not a second scan.
    //
    // Scale posture: two tiny aggregates past the component frame — sizes
    // are component-sized, the histogram is size-distinct-sized; both
    // exchanges carry ids and counts only. All-integer — exact.
    QueryDef(
      "x75_dedup_audit",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val pairs = lshPairsShared(s, d, corpus)
        val mapping = graft.ops.TextDedup.dedupMappingFromPairs(corpus, pairs)
        mapping.groupBy("canonical_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz")
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("sz")).as("n_docs"),
            sum(col("sz") - 1L).as("docs_removed"))
          .orderBy("sz")
      },
      Some(s"""$dedupComponentsCtes,
             |sz AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS sz
             |  FROM cmap GROUP BY 1)
             |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
             |  CAST(sum(sz) AS BIGINT) AS n_docs,
             |  CAST(sum(sz - 1) AS BIGINT) AS docs_removed
             |FROM sz GROUP BY 1 ORDER BY sz""".stripMargin)),

    // RANDOM PROJECTION / JOHNSON-LINDENSTRAUSS SKETCH (x76) — project the
    // 64-dim embeddings onto 8 dims through a deterministic ±1 sign matrix
    // (Achlioptas' database-friendly JL): y_j = Σ_i s(i,j)·x_i. The cheap
    // dimensionality reduction upstream of clustering/ANN (x07/x23) when
    // the full embedding is too wide to shuffle.
    //
    // Exactness: x is floor-quantized to int (x21's discipline) and s is
    // ±1 from an md5 nibble, so y is an exact INTEGER sum — no float
    // summation order anywhere. Sign matrix entries are hash(i,j) — no
    // stored matrix, any worker recomputes any entry (broadcast-free).
    //
    // Scale posture: posexplode ×dims and the ×8 output-dim explode are
    // narrow; the ONE exchange is the (vec_id, j) partial-combined sum
    // (plan-pinned), carrying 8 longs per vector — the projected width,
    // never the input width.
    QueryDef(
      "x76_random_projection",
      (s, d) => {
        val sign = when(substring(md5(concat(col("i").cast("string"), lit(":"),
          col("j").cast("string"), lit(":rp")).cast("binary")), 1, 1)
          < lit("8"), 1L).otherwise(-1L)
        embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
          .select(col("vec_id"), col("i").cast(LongType).as("i"),
            floor(col("x").cast(DoubleType) * lit(1048576.0)).cast(LongType).as("xq"))
          .withColumn("j", explode(sequence(lit(0L), lit(7L))))
          .withColumn("sxq", sign * col("xq"))
          .groupBy("vec_id", "j")
          .agg(sum(col("sxq")).as("yq"))
          .orderBy("vec_id", "j")
      },
      Some("""WITH x AS (SELECT vec_id,
             |  CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
             |  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576.0) AS BIGINT) AS xq
             |  FROM embeddings),
             |xj AS (SELECT vec_id, i, xq, j FROM x,
             |  (SELECT unnest(range(0, 8)) AS j) js)
             |SELECT vec_id, j,
             |  CAST(sum(CASE WHEN substring(md5(i::VARCHAR || ':' || j::VARCHAR || ':rp'), 1, 1) < '8'
             |    THEN xq ELSE -xq END) AS BIGINT) AS yq
             |FROM xj GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin)),

    // TEMPERATURE MIXTURE RESAMPLING (x77) — the source-rebalancing pass
    // between x43's as-given mixture sampling and a uniform cap: target
    // counts ∝ n_s^τ with τ = 0.5 (sqrt flattening, the standard
    // low-resource-upweighting temperature), then a deterministic hash-
    // ranked draw of exactly that many docs per source.
    //
    // Exactness: sqrt is correctly-rounded IEEE in both engines (x58's
    // discipline) and is immediately floor-quantized to integer weight
    // wq; the share arithmetic is all-integer (·300 then integer div) —
    // no float summation anywhere. Selection reuses x17's hash-not-rand
    // reproducibility.
    //
    // Scale posture: per-source counts are an entity-sized agg; the 1-row
    // weight total rides a broadcast crossJoin (q52's scalar pattern);
    // rank + target filter + final rollup all ride ONE source exchange
    // (plan-pinned). At 100 TB swap the rank for the bounded
    // TopKAggregator (x13) exactly as in x73.
    QueryDef(
      "x77_mixture_resample",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val counts = corpus.groupBy("source").agg(count(lit(1)).as("n_s"))
          .withColumn("wq",
            floor(sqrt(col("n_s").cast(DoubleType)) * lit(1000000.0)).cast(LongType))
        // the weight total is a window sum over the ~|sources|-row counts
        // frame (single tiny partition) — NOT a crossJoin(broadcast(agg)):
        // that shape plans the counts subtree twice and only runtime
        // exchange reuse deduplicates it
        val targets = counts
          .withColumn("tot_wq", sum(col("wq")).over(Window.partitionBy()))
          .withColumn("target_n", expr("(300 * wq) div tot_wq"))
          .select("source", "n_s", "target_n")
        val wr = Window.partitionBy("source").orderBy(col("k"), col("doc_id"))
        corpus
          .withColumn("k",
            md5(concat(col("doc_id").cast("string"), lit(":mix")).cast("binary")))
          .withColumn("rk", row_number().over(wr))
          .join(broadcast(targets), "source")
          .filter(col("rk") <= col("target_n"))
          .groupBy("source", "n_s", "target_n")
          .agg(count(lit(1)).as("n_sel"), sum(col("doc_id")).as("id_checksum"))
          .orderBy("source")
      },
      Some(s"""WITH $corpusSql,
             |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s,
             |  CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS wq
             |  FROM corpus GROUP BY 1),
             |tg AS (SELECT source, n_s,
             |  CAST((300 * wq) // (SELECT sum(wq) FROM cnt) AS BIGINT) AS target_n
             |  FROM cnt),
             |rk AS (SELECT source, doc_id,
             |  row_number() OVER (PARTITION BY source
             |    ORDER BY md5(doc_id::VARCHAR || ':mix'), doc_id) AS rk
             |  FROM corpus)
             |SELECT tg.source AS source, n_s, target_n,
             |  CAST(count(*) AS BIGINT) AS n_sel,
             |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
             |FROM rk JOIN tg ON rk.source = tg.source
             |WHERE rk <= target_n GROUP BY 1, 2, 3 ORDER BY tg.source""".stripMargin)),

    // MINHASH ESTIMATOR ERROR AUDIT (x78) — x69's trade-quantifier for the
    // TEXT dedup path: for every LSH candidate pair, compare the MinHash
    // estimate (n_match/8) against the EXACT shingle-set Jaccard, grouped
    // by signature agreement level. This is the measurement that justifies
    // x03/x18's minMatch=6 threshold with numbers instead of folklore.
    //
    // Exactness: est = n_match/8 is a power-of-two division (exact);
    // j = i/u is ONE correctly-rounded IEEE division of exact integers;
    // the per-group means go through floor-quantized integer sums (x72's
    // discipline) so summation order never shows.
    //
    // Scale posture: candidates come from the banded self-join (never
    // all-pairs — x03's argument); the exact-Jaccard join touches only
    // candidate ids, pruned to (id, shingle-set) before the join (x71's
    // prune-before-join argument); output is ≤ 9 rows.
    QueryDef(
      "x78_minhash_error",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val cand = graft.ops.TextDedup.lshCandidatePairs(corpus)
        val sets = corpus
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"),
            array_distinct(graft.ops.TextDedup.shingles(col("tk"))).as("shs"))
          .localCheckpoint(true) // both verification sides read one frame
        cand
          .join(sets.select(col("doc_id").as("a_id"), col("shs").as("a_shs")), Seq("a_id"))
          .join(sets.select(col("doc_id").as("b_id"), col("shs").as("b_shs")), Seq("b_id"))
          .withColumn("i", size(array_intersect(col("a_shs"), col("b_shs"))).cast(LongType))
          .withColumn("u",
            size(col("a_shs")).cast(LongType) + size(col("b_shs")).cast(LongType) - col("i"))
          .withColumn("j", col("i").cast(DoubleType) / col("u").cast(DoubleType))
          .withColumn("est", col("n_match").cast(DoubleType) / lit(8.0))
          .groupBy("n_match")
          .agg(count(lit(1)).as("n_pairs"),
            sum(floor(col("j") * lit(1000000.0)).cast(LongType)).as("sjq"),
            sum(floor(abs(col("est") - col("j")) * lit(1000000.0)).cast(LongType)).as("seq"))
          .select(col("n_match"), col("n_pairs"),
            round(col("sjq") / col("n_pairs").cast(DoubleType) / lit(1000000.0), 6)
              .as("mean_jaccard"),
            round(col("seq") / col("n_pairs").cast(DoubleType) / lit(1000000.0), 6)
              .as("mean_abs_err"))
          .orderBy("n_match")
      },
      Some(s"""WITH $corpusSql,
             |${minhashSigSql("corpus")},
             |band AS (SELECT doc_id, CAST(floor(seed / 2) AS BIGINT) AS band,
             |  min(mh) || '|' || max(mh) AS bsig FROM sig GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
             |  JOIN band b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
             |pm AS (SELECT c.a_id, c.b_id, count(CASE WHEN sa.mh = sb.mh THEN 1 END) AS n_match
             |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
             |  JOIN sig sb ON sb.doc_id = c.b_id AND sb.seed = sa.seed
             |  GROUP BY 1, 2),
             |sets AS (SELECT doc_id, list_distinct($shinglesSql) AS shs
             |  FROM toks WHERE len(tk) >= 3),
             |jx AS (SELECT pm.n_match,
             |  len(list_intersect(a.shs, b.shs)) AS i,
             |  len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)) AS u
             |  FROM pm JOIN sets a ON pm.a_id = a.doc_id
             |  JOIN sets b ON pm.b_id = b.doc_id),
             |je AS (SELECT n_match,
             |  CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS j,
             |  CAST(n_match AS DOUBLE) / 8.0 AS est FROM jx)
             |SELECT CAST(n_match AS BIGINT) AS n_match,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  round(sum(CAST(floor(j * 1000000.0) AS BIGINT))
             |    / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean_jaccard,
             |  round(sum(CAST(floor(abs(est - j) * 1000000.0) AS BIGINT))
             |    / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean_abs_err
             |FROM je GROUP BY 1 ORDER BY n_match""".stripMargin)),

    // CROSS-SOURCE COPY MATRIX (x79) — which sources near-duplicate which:
    // the provenance view of the dedup pass (mirror detection, license
    // laundering, scraper-of-scraper chains). Consumes the session-shared
    // LSH pair frame (SharedCache — x18/x25/x38/x71/x75's frame) and joins
    // each side to its source label.
    //
    // Scale posture: the corpus is pruned to (doc_id, source) BEFORE the
    // joins (x71's argument — exchanges carry ids and labels, never text);
    // both lookups key by doc_id; the final matrix is |sources|²-bounded.
    QueryDef(
      "x79_copy_matrix",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val pairs = lshPairsShared(s, d, corpus)
        val src = corpus.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
          .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
          .groupBy(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""$dedupComponentsCtes
             |SELECT least(ca.source, cb.source) AS source_a,
             |  greatest(ca.source, cb.source) AS source_b,
             |  CAST(count(*) AS BIGINT) AS n_pairs
             |FROM pairs p JOIN corpus ca ON p.a_id = ca.doc_id
             |JOIN corpus cb ON p.b_id = cb.doc_id
             |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)),

    // ZIPF OCTAVE PROFILE (x80) — the token-frequency shape diagnostic: is
    // this corpus natural language (Zipfian, each rank-octave's mass
    // decaying ~2^(1-s)) or template spam (flat / cliff-shaped)? The
    // log-free form of a log-log slope fit: octave = ⌊log2 rank⌋ computed
    // EXACTLY as length(bin(rank))-1 (pure integer — ln()'s last-ulp libm
    // divergence, x44/x51's lesson, never enters), and the octave-to-
    // octave decay is an integer ppm ratio.
    //
    // Scale posture: one token-frequency exchange, then TakeOrdered(1024)
    // — never a global sort of the token table (x68's argument); the
    // octave rollup and lag ride a ≤1024-row frame. All-integer — exact.
    QueryDef(
      "x80_zipf_octaves",
      (s, d) => {
        val wr = Window.orderBy(col("c").desc, col("tok"))
        val top = docCorpus(s, d)
          .select(explode(tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(1024)
          .withColumn("rk", row_number().over(wr).cast(LongType))
        top
          .withColumn("octave", expr("length(bin(rk)) - 1").cast(LongType))
          .groupBy("octave")
          .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("total_occ"))
          .withColumn("decay_ppm",
            expr("(lag(total_occ) OVER (ORDER BY octave) * 1000000) div total_occ"))
          .orderBy("octave")
      },
      Some(s"""WITH $corpusSql,
             |tf AS (SELECT unnest($tokensSql) AS tok FROM corpus),
             |cnt AS (SELECT tok, count(*) AS c FROM tf GROUP BY 1),
             |top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 1024),
             |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM top),
             |oc AS (SELECT CAST(length(bin(rk)) - 1 AS BIGINT) AS octave,
             |  CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(c) AS BIGINT) AS total_occ FROM rk GROUP BY 1)
             |SELECT octave, n_tokens, total_occ,
             |  CAST((lag(total_occ) OVER (ORDER BY octave) * 1000000) // total_occ AS BIGINT)
             |    AS decay_ppm
             |FROM oc ORDER BY octave""".stripMargin)),

    // GROUP-AWARE LEAKAGE-SAFE SPLIT (x81) — the FIX x71's audit motivates:
    // split by the hash of the near-dup component's CANONICAL id, not the
    // doc id, so every member of a component lands in the same split and
    // near-dup train→val leakage is structurally impossible. The query
    // re-runs x71's audit against the group-keyed split and ships the
    // proof: n_neardup_leaks = 0 per split BY CONSTRUCTION (any exact
    // duplicate long enough to signature is also LSH-paired, so exact
    // leaks can only come from sub-3-token docs).
    //
    // Scale posture: consumes the session-shared LSH pair frame
    // (SharedCache — x18/x25/x38/x71/x75/x79's frame); the audit frame is
    // pruned to (doc_id, split, h, can) before any join (x71's argument —
    // exchanges carry digests and ids, never text); both leak-stat tables
    // key the same way as their probe side so each join reuses its
    // aggregate's exchange.
    QueryDef(
      "x81_group_split",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val pairs = lshPairsShared(s, d, corpus)
        val mapping = graft.ops.TextDedup.dedupMappingFromPairs(corpus, pairs)
        val withCan = corpus
          .withColumn("h", md5(col("text").cast("binary")))
          .join(mapping.select(col("doc_id"), col("canonical_id")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("h"),
            coalesce(col("canonical_id"), col("doc_id")).as("can"))
          .withColumn("split",
            graft.ops.Sampling.splitColumn(col("can"), "gsplit", 0.8))
          // four consumers (both leak-stat tables, the probe, the split
          // counts) — checkpoint the pruned (ids+digest) frame so the
          // corpus scan + full-text md5 runs once (8 scans before)
          .localCheckpoint(true)
        val isTrain = when(col("split") === "train", 1L).otherwise(0L)
        val hstat = withCan.groupBy("h").agg(max(isTrain).as("h_has_train"))
        val cstat = withCan.groupBy("can").agg(max(isTrain).as("c_has_train"))
        val leaks = withCan.filter(col("split") === "val")
          .join(hstat, Seq("h")).join(cstat, Seq("can"))
          .groupBy("split")
          .agg(sum(col("h_has_train")).as("n_exact_leaks"),
            sum(col("c_has_train")).as("n_neardup_leaks"))
        withCan.groupBy("split").agg(count(lit(1)).as("n_docs"))
          .join(leaks, Seq("split"), "left")
          .select(col("split"), col("n_docs"),
            coalesce(col("n_exact_leaks"), lit(0L)).as("n_exact_leaks"),
            coalesce(col("n_neardup_leaks"), lit(0L)).as("n_neardup_leaks"))
          .orderBy("split")
      },
      Some(s"""$dedupComponentsCtes,
             |sp AS (SELECT c.doc_id, md5(c.text) AS h, cmap.canonical_id AS can,
             |  CASE WHEN substring(md5(cmap.canonical_id::VARCHAR || ':gsplit'), 1, 8)
             |    < 'cccccccc' THEN 'train' ELSE 'val' END AS split
             |  FROM corpus c JOIN cmap ON c.doc_id = cmap.doc_id),
             |hs AS (SELECT h, max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ht
             |  FROM sp GROUP BY 1),
             |cs AS (SELECT can, max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct
             |  FROM sp GROUP BY 1),
             |lk AS (SELECT split, CAST(sum(ht) AS BIGINT) AS n_exact_leaks,
             |  CAST(sum(ct) AS BIGINT) AS n_neardup_leaks
             |  FROM sp JOIN hs ON sp.h = hs.h JOIN cs ON sp.can = cs.can
             |  WHERE split = 'val' GROUP BY 1)
             |SELECT sp.split AS split, CAST(count(*) AS BIGINT) AS n_docs,
             |  coalesce(any_value(lk.n_exact_leaks), 0) AS n_exact_leaks,
             |  coalesce(any_value(lk.n_neardup_leaks), 0) AS n_neardup_leaks
             |FROM sp LEFT JOIN lk ON sp.split = lk.split
             |GROUP BY 1 ORDER BY split""".stripMargin)),

    // PER-SOURCE DISTRIBUTION SHIFT (x82) — the L1 (total-variation ×2)
    // distance between each source's unigram distribution and the corpus
    // distribution: the domain-shift diagnostic that tells a mixture
    // designer (x43/x77) which sources are interchangeable and which are
    // genuinely different. Log-free counterpart to a KL divergence — no
    // ln(), so x44/x51's libm-last-ulp trap never enters.
    //
    // Exactness: probabilities are integer ppm via BIGINT division —
    // exact in both engines. The absent-token mass uses the identity
    // L1 = Σ_present|p−q| + (S_q − Σ_present q), so no source×vocab
    // blow-up: S_q is ONE global scalar; the vocab agg appears twice in
    // the plan (joined + rolled up to S_q) but the duplicated subtree is
    // identical, so runtime exchange reuse serves the second read from
    // the first's shuffle output.
    //
    // Scale posture: one (source, tok) exchange and one tok exchange;
    // exchanges carry tokens and counts, never document text
    // (plan-pinned); output is |sources|-bounded.
    QueryDef(
      "x82_domain_shift",
      (s, d) => {
        // ONE corpus tokenization: the (source, tok) rollup is
        // |sources|×|vocab|-bounded and checkpoints; the global token
        // counts derive from it (sum of per-source counts ≡ corpus count),
        // so the second explode the un-cached shape paid is gone
        val st = docCorpus(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("cs"))
          .localCheckpoint(true)
        val totS = st.groupBy("source").agg(sum(col("cs")).as("ns"))
        val g = st.groupBy("tok").agg(sum(col("cs")).as("cg"))
        val totG = g.agg(sum(col("cg")).as("ng"))
        val vocab = g.join(broadcast(totG))
          .select(col("tok"), expr("(cg * 1000000) div ng").as("q_ppm"))
        val sq = vocab.agg(sum(col("q_ppm")).as("s_q"))
        st.join(broadcast(totS), "source")
          .withColumn("p_ppm", expr("(cs * 1000000) div ns"))
          .join(vocab, "tok")
          .groupBy("source")
          .agg(count(lit(1)).as("n_shared_tokens"),
            sum(abs(col("p_ppm") - col("q_ppm"))).as("b"),
            sum(col("q_ppm")).as("cq"))
          .join(broadcast(sq))
          .select(col("source"), col("n_shared_tokens"),
            (col("b") + col("s_q") - col("cq")).cast(LongType).as("l1_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH $corpusSql,
             |tf AS (SELECT source, unnest($tokensSql) AS tok FROM corpus),
             |st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cs FROM tf GROUP BY 1, 2),
             |ts AS (SELECT source, sum(cs) AS ns FROM st GROUP BY 1),
             |g AS (SELECT tok, CAST(count(*) AS BIGINT) AS cg FROM tf GROUP BY 1),
             |v AS (SELECT tok, (cg * 1000000) // (SELECT sum(cg) FROM g) AS q_ppm FROM g),
             |pr AS (SELECT st.source, st.tok,
             |  (cs * 1000000) // ns AS p_ppm, q_ppm
             |  FROM st JOIN ts ON st.source = ts.source JOIN v ON st.tok = v.tok)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_shared_tokens,
             |  CAST(sum(abs(p_ppm - q_ppm)) + (SELECT sum(q_ppm) FROM v) - sum(q_ppm)
             |    AS BIGINT) AS l1_ppm
             |FROM pr GROUP BY 1 ORDER BY source""".stripMargin)),

    // PER-SOURCE LENGTH-DISTRIBUTION DRIFT (x83) — the Kolmogorov–Smirnov
    // statistic between each source's document-length CDF and the corpus
    // CDF: x82's companion for NUMERIC features (x82 compares token
    // distributions; this catches a source whose vocabulary looks normal
    // but whose length profile is truncated/padded — a classic extraction
    // bug signature).
    //
    // Exactness: CDFs are integer ppm (BIGINT division); KS is a max of
    // integer differences — exact in both engines, no float anywhere.
    //
    // Scale posture: the KS sup runs over the |sources|×|distinct lengths|
    // grid — BOUNDED (lengths are bounded by max doc length; sources are
    // entity-sized), built by a deliberate broadcast cross join of two
    // TINY aggregates, never by anything corpus-sized. Per-source CDFs
    // ride one window over the grid; the global CDF is a ≤|lengths|-row
    // single-partition window (documented tiny-frame exception, q52's
    // scalar pattern).
    QueryDef(
      "x83_length_drift",
      (s, d) => {
        val docs = documents(s, d).select(col("source"), col("n_chars"))
        val sl = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("cs"))
        val gl = docs.groupBy("n_chars").agg(count(lit(1)).as("cg"))
          .withColumn("cum_g", sum(col("cg")).over(
            Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)))
        val totG = gl.agg(sum(col("cg")).as("ng"))
        val srcs = docs.groupBy("source").agg(count(lit(1)).as("ns"))
        val grid = srcs.crossJoin(broadcast(gl.select("n_chars", "cum_g")))
        val wc = Window.partitionBy("source").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, 0)
        grid
          .join(sl, Seq("source", "n_chars"), "left")
          .withColumn("cum_s", sum(coalesce(col("cs"), lit(0L))).over(wc))
          .join(broadcast(totG))
          .withColumn("dev", abs(
            expr("(cum_s * 1000000) div ns") - expr("(cum_g * 1000000) div ng")))
          .groupBy("source")
          .agg(max(col("ns")).cast(LongType).as("n_docs"),
            max(col("dev")).cast(LongType).as("ks_ppm"))
          .orderBy("source")
      },
      Some("""WITH sl AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS cs
             |  FROM documents GROUP BY 1, 2),
             |gl AS (SELECT n_chars, CAST(count(*) AS BIGINT) AS cg FROM documents GROUP BY 1),
             |gc AS (SELECT n_chars, sum(cg) OVER (ORDER BY n_chars
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g FROM gl),
             |sc AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM documents GROUP BY 1),
             |grid AS (SELECT source, ns, n_chars, cum_g FROM sc CROSS JOIN gc),
             |cdf AS (SELECT grid.source, ns, grid.n_chars, cum_g,
             |  sum(coalesce(cs, 0)) OVER (PARTITION BY grid.source ORDER BY grid.n_chars
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s
             |  FROM grid LEFT JOIN sl ON grid.source = sl.source AND grid.n_chars = sl.n_chars)
             |SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
             |  CAST(max(abs((cum_s * 1000000) // ns
             |    - (cum_g * 1000000) // (SELECT sum(cg) FROM gl))) AS BIGINT) AS ks_ppm
             |FROM cdf GROUP BY 1 ORDER BY source""".stripMargin)),

    // K-ANONYMITY AUDIT (x84) — the privacy-governance gate a training
    // corpus with user-derived records needs before release: at each
    // quasi-identifier generalization level (fine acctbal-bucket →
    // coarse bucket → bucket dropped), how many QI groups have fewer than
    // k=5 members, and how many rows those groups expose. k-anonymity of
    // the release = the SMALLEST group size at its level (Sweeney's k).
    //
    // Exactness: all-integer (bucket = floor of one IEEE division —
    // identical in both engines; everything after is counts).
    //
    // Scale posture: stack ×3 is narrow (no shuffle to build the tall
    // frame); ONE (level, qi) hash agg with map-side partial combine —
    // group count is bounded by levels × |QI space|, not rows — then a
    // 3-row rollup. No join anywhere (plan-pinned).
    QueryDef(
      "x84_k_anonymity",
      (s, d) => {
        val k = 5L
        val tall = customer(s, d).selectExpr(
          "stack(3, " +
            "0, concat_ws('|', c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 100.0) AS BIGINT)), " +
            "1, concat_ws('|', c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000.0) AS BIGINT)), " +
            "2, concat_ws('|', c_nationkey, c_mktsegment)) AS (level, qi)")
        tall.groupBy("level", "qi").agg(count(lit(1)).as("sz"))
          .groupBy(col("level").cast(LongType).as("level"))
          .agg(count(lit(1)).as("n_groups"),
            min(col("sz")).cast(LongType).as("k_anonymity"),
            sum(when(col("sz") < k, 1L).otherwise(0L)).as("n_violating_groups"),
            sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("n_rows_at_risk"))
          .orderBy("level")
      },
      Some("""WITH tall AS (
             |  SELECT 0 AS level, c_nationkey::VARCHAR || '|' || c_mktsegment || '|'
             |    || CAST(floor(c_acctbal / 100.0) AS BIGINT)::VARCHAR AS qi FROM customer
             |  UNION ALL
             |  SELECT 1, c_nationkey::VARCHAR || '|' || c_mktsegment || '|'
             |    || CAST(floor(c_acctbal / 1000.0) AS BIGINT)::VARCHAR FROM customer
             |  UNION ALL
             |  SELECT 2, c_nationkey::VARCHAR || '|' || c_mktsegment FROM customer),
             |g AS (SELECT level, qi, count(*) AS sz FROM tall GROUP BY 1, 2)
             |SELECT CAST(level AS BIGINT) AS level,
             |  CAST(count(*) AS BIGINT) AS n_groups,
             |  CAST(min(sz) AS BIGINT) AS k_anonymity,
             |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
             |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk
             |FROM g GROUP BY 1 ORDER BY level""".stripMargin)),

    // FOREIGN-KEY / CONTAINMENT DISCOVERY (x85) — the schema-profiling
    // pass that finds referential structure in an undocumented lake:
    // for each candidate (child column → parent column) pair, what
    // fraction of distinct child values the parent contains, AND what
    // fraction of the parent key space the child uses. Containment alone
    // overclaims — on this very data, small-integer columns
    // (l_linenumber ⊆ n_nationkey) and subrange ids (user_id ⊆
    // c_custkey) are 100%-contained by coincidence; the LOW parent
    // coverage is what separates them from the true FKs, which is why
    // both ratios ship.
    //
    // Exactness: all-integer (distinct counts and integer ppm
    // divisions).
    //
    // Scale posture: each side is reduced to DISTINCT keys map-side
    // BEFORE any join (the aggregate's partial combine — child fact
    // tables never cross the wire raw); ONE full-outer join of the two
    // deduped frames yields child/contained/parent counts in one pass —
    // no second scan for the parent cardinality; output is
    // |candidates|-sized. Candidate pairs are independent jobs — at
    // 100 TB they run concurrently, each reading only its two columns
    // (column-pruned scans).
    QueryDef(
      "x85_fk_discovery",
      (s, d) => {
        def containment(name: String, child: DataFrame, parent: DataFrame): DataFrame = {
          val c = child.toDF("k").filter(col("k").isNotNull).distinct()
            .withColumn("cs", lit(1L))
          val p = parent.toDF("k").filter(col("k").isNotNull).distinct()
            .withColumn("hit", lit(1L))
          c.join(p, Seq("k"), "full_outer")
            .agg(sum(coalesce(col("cs"), lit(0L))).as("n_child_distinct"),
              sum(when(col("cs").isNotNull && col("hit").isNotNull, 1L)
                .otherwise(0L)).as("n_contained"),
              sum(coalesce(col("hit"), lit(0L))).as("n_parent_distinct"))
            .select(lit(name).as("candidate"), col("n_child_distinct"),
              col("n_contained"), col("n_parent_distinct"),
              expr("(n_contained * 1000000) div n_child_distinct").as("containment_ppm"),
              expr("(n_contained * 1000000) div n_parent_distinct").as("coverage_ppm"))
        }
        val li = lineitem(s, d)
        val res = Seq(
          containment("lineitem.l_partkey->part.p_partkey",
            li.select("l_partkey"), part(s, d).select("p_partkey")),
          containment("lineitem.l_suppkey->supplier.s_suppkey",
            li.select("l_suppkey"), supplier(s, d).select("s_suppkey")),
          containment("orders.o_custkey->customer.c_custkey",
            orders(s, d).select("o_custkey"), customer(s, d).select("c_custkey")),
          containment("events.user_id->customer.c_custkey",
            events(s, d).select("user_id"), customer(s, d).select("c_custkey")),
          containment("lineitem.l_linenumber->nation.n_nationkey",
            li.select(col("l_linenumber").cast(LongType)),
            nation(s, d).select(col("n_nationkey").cast(LongType))))
        res.reduce(_ unionByName _).orderBy("candidate")
      },
      Some("""WITH cand AS (
             |  SELECT 'lineitem.l_partkey->part.p_partkey' AS candidate,
             |    (SELECT count(DISTINCT l_partkey) FROM lineitem) AS nc,
             |    (SELECT count(DISTINCT l_partkey) FROM lineitem
             |      WHERE l_partkey IN (SELECT p_partkey FROM part)) AS nh,
             |    (SELECT count(DISTINCT p_partkey) FROM part) AS np
             |  UNION ALL
             |  SELECT 'lineitem.l_suppkey->supplier.s_suppkey',
             |    (SELECT count(DISTINCT l_suppkey) FROM lineitem),
             |    (SELECT count(DISTINCT l_suppkey) FROM lineitem
             |      WHERE l_suppkey IN (SELECT s_suppkey FROM supplier)),
             |    (SELECT count(DISTINCT s_suppkey) FROM supplier)
             |  UNION ALL
             |  SELECT 'orders.o_custkey->customer.c_custkey',
             |    (SELECT count(DISTINCT o_custkey) FROM orders),
             |    (SELECT count(DISTINCT o_custkey) FROM orders
             |      WHERE o_custkey IN (SELECT c_custkey FROM customer)),
             |    (SELECT count(DISTINCT c_custkey) FROM customer)
             |  UNION ALL
             |  SELECT 'events.user_id->customer.c_custkey',
             |    (SELECT count(DISTINCT user_id) FROM events),
             |    (SELECT count(DISTINCT user_id) FROM events
             |      WHERE user_id IN (SELECT c_custkey FROM customer)),
             |    (SELECT count(DISTINCT c_custkey) FROM customer)
             |  UNION ALL
             |  SELECT 'lineitem.l_linenumber->nation.n_nationkey',
             |    (SELECT count(DISTINCT l_linenumber) FROM lineitem),
             |    (SELECT count(DISTINCT l_linenumber) FROM lineitem
             |      WHERE CAST(l_linenumber AS BIGINT) IN
             |        (SELECT CAST(n_nationkey AS BIGINT) FROM nation)),
             |    (SELECT count(DISTINCT n_nationkey) FROM nation))
             |SELECT candidate, CAST(nc AS BIGINT) AS n_child_distinct,
             |  CAST(nh AS BIGINT) AS n_contained,
             |  CAST(np AS BIGINT) AS n_parent_distinct,
             |  CAST((nh * 1000000) // nc AS BIGINT) AS containment_ppm,
             |  CAST((nh * 1000000) // np AS BIGINT) AS coverage_ppm
             |FROM cand ORDER BY candidate""".stripMargin)),

    // EXACT SIMILARITY JOIN VIA PREFIX FILTERING (x86) — the PPJoin-family
    // op (ops/SimilarityJoin): every pair with distinct-token Jaccard
    // ≥ 7/10, EXACTLY — the no-false-negative counterpart to the x03 LSH
    // estimator (whose error x78 measures). Tokens are ordered by global
    // document frequency rarest-first; a qualifying pair must share a
    // token inside both sides' (n − ⌈t·n⌉ + 1)-prefixes, so the candidate
    // join keys on rare tokens and the stopword posting blow-up an
    // unordered token join suffers never starts. Equality with O(n²)
    // brute force is spec-pinned (SimilarityJoinSpec).
    //
    // Exactness: the threshold is the RATIONAL 7/10 and acceptance is
    // 10·i ≥ 7·u — pure integer, no float comparison in either engine.
    //
    // Scale posture: df join + both prefix windows ride ONE per-doc
    // exchange; verification joins move ids and token arrays, never raw
    // text (plan-pinned). The GATE runs on a deterministic doc_id%20
    // slice: the synthetic corpus is template-generated near-dup soup
    // (measured: ~45% of ALL pairs exceed Jaccard 0.7), so the true
    // full-corpus answer is Θ(n²) ROWS — ~21M pairs at sf0.1 — which no
    // candidate filter can prune below its own output. A real web corpus
    // has ppm-level near-dup density, where the prefix filter's sparse
    // candidate set is the whole point; the slice keeps the gate's cost
    // bounded by the answer it checks, not by the fixture's pathology.
    // 10000 ≡ 0 (mod 20) means each sampled doc's exact +10000 clone is
    // co-sampled, so identity pairs (i_size = u_size) stay in the output.
    QueryDef(
      "x86_similarity_join",
      (s, d) => {
        // gate corpus: the doc_id%20 slice, absolutely capped at id 20000
        // (covers all real fixture SFs unchanged). The cap exists because
        // the synthetic corpus is near-dup soup whose TRUE pair count is
        // Θ(n²) — a fixed-fraction slice made the GATE (not the operator)
        // the one superlinear scaler in the 10× experiment (SCALE.md r7:
        // 63 s Spark / 59 s DuckDB, both paying the same workload). A
        // constant gate corpus measures operator correctness; the
        // operator's own scale posture is the prefix-filter argument in
        // ops/SimilarityJoin.scala.
        graft.ops.SimilarityJoin.jaccardJoin(
            docCorpus(s, d).select(col("doc_id"), col("text"))
              .filter(col("doc_id") % 20 === 0 && col("doc_id") < 20000))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $corpusSql,
             |samp AS (SELECT * FROM corpus WHERE doc_id % 20 = 0 AND doc_id < 20000),
             |tk AS (SELECT doc_id, unnest(list_distinct($tokensSql)) AS tok FROM samp),
             |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY 1),
             |r AS (SELECT doc_id, tk.tok,
             |  row_number() OVER (PARTITION BY doc_id ORDER BY df, tk.tok) AS rn,
             |  count(*) OVER (PARTITION BY doc_id) AS n
             |  FROM tk JOIN dfq ON tk.tok = dfq.tok),
             |pf AS (SELECT doc_id, tok FROM r WHERE rn <= n - ((7 * n + 9) // 10) + 1),
             |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |sets AS (SELECT doc_id, list_distinct($tokensSql) AS s FROM samp),
             |v AS (SELECT a_id, b_id,
             |  CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS i_size,
             |  CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS u_size
             |  FROM cand JOIN sets sa ON a_id = sa.doc_id
             |  JOIN sets sb ON b_id = sb.doc_id)
             |SELECT a_id, b_id, i_size, u_size FROM v
             |WHERE 10 * i_size >= 7 * u_size ORDER BY a_id, b_id""".stripMargin)),

    // QUALITY-BASED CLUSTER REPRESENTATIVE (x87) — dedup survivorship done
    // the way a curation team actually wants it: within each near-dup
    // component, keep the HIGHEST-QUALITY member (x01/x18/x38 keep the min
    // id — the right gate semantics, but min-id throws away the
    // best-written copy whenever the scraper that found it first was the
    // worst one). rep_differs_from_min makes the improvement visible row
    // by row.
    //
    // Exactness: quality_score is x35's gated 6dp surface (no half-ties —
    // Curation.withQuality's documented argument); ties break on doc_id.
    //
    // Scale posture: the rank window and the per-component rollup share
    // ONE component-key exchange; only multi-member components surface
    // (bounded by the pair set, not the corpus); the session-shared LSH
    // pair frame means the heavy stage is paid once per session
    // (x18/x75/x79/x81's frame).
    QueryDef(
      "x87_best_of_cluster",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val pairs = lshPairsShared(s, d, corpus)
        val mapping = graft.ops.TextDedup.dedupMappingFromPairs(corpus, pairs)
        val scored = graft.ops.Curation.withQuality(corpus)
          .join(mapping.select(col("doc_id"), col("canonical_id")), Seq("doc_id"), "left")
          .select(col("doc_id"), col("quality_score"),
            coalesce(col("canonical_id"), col("doc_id")).as("can"))
        val w = Window.partitionBy("can").orderBy(col("quality_score").desc, col("doc_id"))
        scored
          .withColumn("rn", row_number().over(w))
          .groupBy("can")
          .agg(count(lit(1)).as("n_members"),
            max(when(col("rn") === 1, col("doc_id"))).as("rep_id"),
            max(when(col("rn") === 1, col("quality_score"))).as("rep_quality"),
            min(col("doc_id")).as("min_id"))
          .filter(col("n_members") >= 2)
          .select(col("can").as("canonical_id"), col("n_members"),
            col("rep_id"), col("rep_quality"),
            (col("rep_id") =!= col("min_id")).as("rep_differs_from_min"))
          .orderBy("canonical_id")
      },
      Some(s"""$dedupComponentsCtes,
             |t AS (SELECT doc_id, n_chars, text, $tokensSql AS tk FROM corpus),
             |m2 AS (SELECT doc_id,
             |  CAST(len(tk) AS BIGINT) AS n_tokens,
             |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop,
             |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_punct,
             |  n_chars FROM t),
             |q AS (SELECT doc_id,
             |  round(0.4 * round(n_stop / CAST(n_tokens AS DOUBLE), 6)
             |    + 0.3 * (least(n_tokens, 100) / 100.0)
             |    + 0.2 * (1.0 - round(n_punct / CAST(n_chars AS DOUBLE), 6)), 6) AS qs
             |  FROM m2),
             |jx AS (SELECT q.doc_id, qs, cmap.canonical_id AS can
             |  FROM q JOIN cmap ON q.doc_id = cmap.doc_id),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY can ORDER BY qs DESC, doc_id) AS rn
             |  FROM jx),
             |ag AS (SELECT can, count(*) AS n_members,
             |  max(CASE WHEN rn = 1 THEN doc_id END) AS rep_id,
             |  max(CASE WHEN rn = 1 THEN qs END) AS rep_quality,
             |  min(doc_id) AS min_id FROM rk GROUP BY 1)
             |SELECT can AS canonical_id, CAST(n_members AS BIGINT) AS n_members,
             |  CAST(rep_id AS BIGINT) AS rep_id, rep_quality,
             |  (rep_id <> min_id) AS rep_differs_from_min
             |FROM ag WHERE n_members >= 2 ORDER BY canonical_id""".stripMargin)),

    // FILTER-FUNNEL ATTRITION REPORT (x88) — the accounting view every
    // hard-filter pipeline (C4/Gopher-style) ships alongside its output:
    // per source, how many documents survive each sequential rule, so a
    // rule that silently eats a source is visible BEFORE training. The
    // rules themselves are the x09/x67 families' signals recast as hard
    // gates; the new operator is the cumulative per-rule funnel. All five
    // rules are integer comparisons (cross-multiplied ratios — no
    // division anywhere), so the report is exact by construction.
    //
    // Scale posture: explode is narrow; the (doc, tok) mode agg and the
    // per-doc rollup are two partial-combined exchanges; flags are narrow;
    // the per-source funnel agg is bounded by |sources|. No joins.
    QueryDef(
      "x88_filter_funnel",
      (s, d) => {
        val stop = Seq("the", "a", "of", "and", "to")
        val byTok = documents(s, d)
          .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "source", "tok").agg(count(lit(1)).as("c"))
        val perDoc = byTok.groupBy("doc_id", "source").agg(
          sum("c").as("n_tokens"),
          sum(col("c") * length(col("tok"))).as("sum_len"),
          sum(when(col("tok").isInCollection(stop), col("c")).otherwise(0L)).as("n_stop"),
          max(when(col("tok") === "dup", 1L).otherwise(0L)).as("has_block"),
          max("c").as("top_c"))
        val flagged = perDoc
          .withColumn("f1", col("n_tokens").between(20, 1000))
          .withColumn("f2", col("f1") &&
            col("sum_len") >= col("n_tokens") * 4 && col("sum_len") <= col("n_tokens") * 6)
          .withColumn("f3", col("f2") && col("n_stop") * 100 >= col("n_tokens") * 3)
          .withColumn("f4", col("f3") && col("has_block") === 0)
          .withColumn("f5", col("f4") && col("top_c") * 5 <= col("n_tokens"))
        flagged.groupBy("source").agg(
            count(lit(1)).as("n_in"),
            sum(when(col("f1"), 1L).otherwise(0L)).as("n_r1"),
            sum(when(col("f2"), 1L).otherwise(0L)).as("n_r2"),
            sum(when(col("f3"), 1L).otherwise(0L)).as("n_r3"),
            sum(when(col("f4"), 1L).otherwise(0L)).as("n_r4"),
            sum(when(col("f5"), 1L).otherwise(0L)).as("n_r5"))
          .withColumn("retention_ppm", expr("(n_r5 * 1000000) div n_in"))
          .orderBy("source")
      },
      Some(s"""WITH tt AS (SELECT doc_id, source, unnest($tokensSql) AS tok FROM documents),
              |bt AS (SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS c
              |  FROM tt GROUP BY 1, 2, 3),
              |pd AS (SELECT doc_id, source,
              |  CAST(sum(c) AS BIGINT) AS n_tokens,
              |  CAST(sum(c * len(tok)) AS BIGINT) AS sum_len,
              |  CAST(sum(CASE WHEN tok IN ('the','a','of','and','to') THEN c ELSE 0 END) AS BIGINT) AS n_stop,
              |  max(CASE WHEN tok = 'dup' THEN 1 ELSE 0 END) AS has_block,
              |  CAST(max(c) AS BIGINT) AS top_c
              |  FROM bt GROUP BY 1, 2),
              |fl AS (SELECT source,
              |  (n_tokens BETWEEN 20 AND 1000) AS f1,
              |  (n_tokens BETWEEN 20 AND 1000
              |    AND sum_len >= n_tokens * 4 AND sum_len <= n_tokens * 6) AS f2,
              |  (n_tokens BETWEEN 20 AND 1000
              |    AND sum_len >= n_tokens * 4 AND sum_len <= n_tokens * 6
              |    AND n_stop * 100 >= n_tokens * 3) AS f3,
              |  (n_tokens BETWEEN 20 AND 1000
              |    AND sum_len >= n_tokens * 4 AND sum_len <= n_tokens * 6
              |    AND n_stop * 100 >= n_tokens * 3 AND has_block = 0) AS f4,
              |  (n_tokens BETWEEN 20 AND 1000
              |    AND sum_len >= n_tokens * 4 AND sum_len <= n_tokens * 6
              |    AND n_stop * 100 >= n_tokens * 3 AND has_block = 0
              |    AND top_c * 5 <= n_tokens) AS f5
              |  FROM pd)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_in,
              |  CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n_r1,
              |  CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_r2,
              |  CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n_r3,
              |  CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_r4,
              |  CAST(sum(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS n_r5,
              |  CAST((sum(CASE WHEN f5 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS retention_ppm
              |FROM fl GROUP BY 1 ORDER BY source""".stripMargin)),

    // BRADLEY–TERRY SOURCE RATING (x89) — the preference-data primitive an
    // RLHF/eval pipeline runs over pairwise comparisons: fit a strength
    // score per source from which-document-won records via the standard
    // minorization-maximization update r_i ← w_i / Σ_j n_ij/(r_i+r_j),
    // three fixed rounds. Comparisons are synthesized deterministically
    // (doc pairs at strides 1 and 7 across different sources; longer
    // n_chars wins, ties to the earlier doc), so both engines see the
    // identical game table.
    //
    // Exactness: each per-opponent term is ONE IEEE division quantized to
    // DECIMAL(18,8) before the per-source sum (x58's dsum discipline —
    // engine summation order never shows); the update w_i/S_i is one more
    // IEEE division of exact operands, so each round's ranks are
    // bit-identical cross-engine.
    //
    // Scale posture: the game table aggregates corpus-scale pairs down to
    // a |sources|²-bounded frame with map-side combine; the three fixed
    // rounds iterate on that constant-size frame with broadcast rank
    // joins — at 100 TB the iteration cost does not grow at all.
    QueryDef(
      "x89_bradley_terry",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        // both strides from ONE equi-join: the left side fans out over the
        // stride array narrowly and joins the broadcast right side on the
        // computed key — half the scans of a per-stride self-join pair
        val o = docs
          .select(col("doc_id"), col("source").as("sa"), col("n_chars").as("ca"),
            explode(array(lit(1), lit(7))).as("k"))
          .withColumn("bid", col("doc_id") + col("k"))
          .join(broadcast(docs.select(col("doc_id").as("bid"),
            col("source").as("sb"), col("n_chars").as("cb"))), Seq("bid"))
          .filter(col("sa") =!= col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("n"),
            sum(when(col("ca") >= col("cb"), 1L).otherwise(0L)).as("w"))
        val g = o.select(col("sa").as("i"), col("sb").as("j"), col("n"), col("w"))
          .unionByName(o.select(col("sb").as("i"), col("sa").as("j"),
            col("n"), (col("n") - col("w")).as("w")))
          .groupBy("i", "j").agg(sum("n").as("nij"), sum("w").as("wij"))
        val wt = g.groupBy("i").agg(sum("wij").as("w"), sum("nij").as("ng"))
        // 3 MM rounds as ONE lazily-chained job on the |sources|²-bounded
        // game frame (ops.BradleyTerry — q44's barrier-collapse pattern)
        val ranks = graft.ops.BradleyTerry.rounds(
          g.select(col("i"), col("j"), col("nij"), col("wij")), rounds = 3)
        ranks.join(broadcast(wt), Seq("i"))
          .select(col("i").as("source"), col("ng").as("n_games"),
            col("w").as("n_wins"), round(col("r"), 6).as("rating"))
          .orderBy("source")
      },
      Some("""WITH d2 AS (SELECT doc_id, source, n_chars FROM documents),
             |p AS (SELECT a.source AS sa, b.source AS sb, (a.n_chars >= b.n_chars) AS aw
             |  FROM d2 a JOIN d2 b ON b.doc_id = a.doc_id + 1 WHERE a.source <> b.source
             |  UNION ALL
             |  SELECT a.source, b.source, (a.n_chars >= b.n_chars)
             |  FROM d2 a JOIN d2 b ON b.doc_id = a.doc_id + 7 WHERE a.source <> b.source),
             |o AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN aw THEN 1 ELSE 0 END) AS BIGINT) AS w
             |  FROM p GROUP BY 1, 2),
             |g AS (SELECT i, j, CAST(sum(n) AS BIGINT) AS nij, CAST(sum(w) AS BIGINT) AS wij
             |  FROM (SELECT sa AS i, sb AS j, n, w FROM o
             |        UNION ALL SELECT sb AS i, sa AS j, n, n - w FROM o)
             |  GROUP BY 1, 2),
             |wt AS (SELECT i, CAST(sum(wij) AS BIGINT) AS w, CAST(sum(nij) AS BIGINT) AS ng
             |  FROM g GROUP BY 1),
             |r0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS r FROM wt),
             |r1 AS (SELECT g.i,
             |  CAST(wt.w AS DOUBLE) / CAST(sum(CAST(CAST(g.nij AS DOUBLE) / (ri.r + rj.r)
             |    AS DECIMAL(18,8))) AS DOUBLE) AS r
             |  FROM g JOIN r0 ri ON ri.i = g.i JOIN r0 rj ON rj.i = g.j
             |  JOIN wt ON wt.i = g.i GROUP BY g.i, wt.w),
             |r2 AS (SELECT g.i,
             |  CAST(wt.w AS DOUBLE) / CAST(sum(CAST(CAST(g.nij AS DOUBLE) / (ri.r + rj.r)
             |    AS DECIMAL(18,8))) AS DOUBLE) AS r
             |  FROM g JOIN r1 ri ON ri.i = g.i JOIN r1 rj ON rj.i = g.j
             |  JOIN wt ON wt.i = g.i GROUP BY g.i, wt.w),
             |r3 AS (SELECT g.i,
             |  CAST(wt.w AS DOUBLE) / CAST(sum(CAST(CAST(g.nij AS DOUBLE) / (ri.r + rj.r)
             |    AS DECIMAL(18,8))) AS DOUBLE) AS r
             |  FROM g JOIN r2 ri ON ri.i = g.i JOIN r2 rj ON rj.i = g.j
             |  JOIN wt ON wt.i = g.i GROUP BY g.i, wt.w)
             |SELECT r3.i AS source, wt.ng AS n_games, wt.w AS n_wins,
             |  round(r3.r, 6) AS rating
             |FROM r3 JOIN wt ON wt.i = r3.i ORDER BY source""".stripMargin)),

    // PERSONALIZED PAGERANK (x90) — q44's kernel with the teleport mass
    // pinned to a seed set (the suppliers): relevance-to-the-seeds ranking,
    // the link-analysis primitive behind related-entity retrieval. Runs
    // through GraphAlgos.pagerankRounds' seed mode, so the iteration is
    // the same ONE lazily-chained job; only the reset term and the rank
    // initialization differ (seeds start at 1, others at 0 — exactly the
    // SQL twin's CASE expressions).
    QueryDef(
      "x90_personalized_pagerank",
      (s, d) => {
        val e0 = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
          .distinct()
        val edges = e0
          .select(explode(array(
            struct(col("a").as("src"), col("b").as("dst")),
            struct(col("b").as("src"), col("a").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        // suppliers carry the odd vertex-id bit under the 2k/2k+1 encoding
        GraphAlgos.pagerankRounds(edges, rounds = 4, resetProb = 0.2,
            seed = Some((v: Long) => (v & 1L) == 1L))
          .select(
            when(col("vid") % 2 === 0, concat(lit("c"), expr("vid div 2")))
              .otherwise(concat(lit("s"), expr("vid div 2"))).as("node"),
            round(col("pr"), 6).as("ppr"))
          .orderBy(col("ppr").desc, col("node")).limit(20)
          .withColumn("rn",
            row_number().over(Window.orderBy(col("ppr").desc, col("node"))).cast(LongType))
          .select(col("rn"), col("node"), col("ppr"))
          .orderBy("rn")
      },
      Some("""WITH e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             |  's' || CAST(l_suppkey AS VARCHAR) AS dst
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |edges AS (SELECT src, dst FROM e0
             |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
             |r0 AS (SELECT src AS node,
             |  CAST(CASE WHEN src LIKE 's%' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS pr FROM deg),
             |r1 AS (SELECT e.dst AS node,
             |  CASE WHEN e.dst LIKE 's%' THEN 0.2 ELSE 0.0 END
             |    + 0.8 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |r2 AS (SELECT e.dst AS node,
             |  CASE WHEN e.dst LIKE 's%' THEN 0.2 ELSE 0.0 END
             |    + 0.8 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |r3 AS (SELECT e.dst AS node,
             |  CASE WHEN e.dst LIKE 's%' THEN 0.2 ELSE 0.0 END
             |    + 0.8 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |r4 AS (SELECT e.dst AS node,
             |  CASE WHEN e.dst LIKE 's%' THEN 0.2 ELSE 0.0 END
             |    + 0.8 * CAST(sum(CAST(r.pr / d.outdeg AS DECIMAL(18,8))) AS DOUBLE) AS pr
             |  FROM edges e JOIN r3 r ON e.src = r.node JOIN deg d ON e.src = d.src GROUP BY 1),
             |top AS (SELECT node, round(pr, 6) AS ppr FROM r4),
             |r AS (SELECT *, CAST(row_number() OVER (ORDER BY ppr DESC, node) AS BIGINT) AS rn
             |  FROM top)
             |SELECT rn, node, ppr FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin)),

    // TOKEN-BUDGET GREEDY SELECTION (x91) — the data-constrained assembly
    // step between scoring (x09) and packing (x48/x56): per source, keep
    // documents in (n_tok desc, doc_id) priority order while the running
    // token total stays within the budget — the standard way a fixed token
    // allowance per domain is spent. A document that would cross the
    // budget is excluded (strict prefix semantics), so the report is
    // all-integer and exact.
    //
    // Scale posture: token counts are a narrow projection; the priority
    // rank and running sum ride ONE source exchange; the per-source
    // rollup clusters on it. At 100 TB swap the window for x13's bounded
    // TopKAggregator keyed by the budget-feasible prefix.
    QueryDef(
      "x91_token_budget",
      (s, d) => {
        val budget = 600L
        val docs = documents(s, d).select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast(LongType).as("n_tok"))
        val w = Window.partitionBy("source").orderBy(col("n_tok").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        docs.withColumn("cum", sum("n_tok").over(w))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("cum") <= budget, 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("cum") <= budget, col("n_tok")).otherwise(0L)).as("tok_kept"),
            sum("n_tok").as("tok_total"))
          .withColumn("exhausted", col("tok_total") > budget)
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              |  CAST(len($tokensSql) AS BIGINT) AS n_tok FROM documents),
              |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source
              |  ORDER BY n_tok DESC, doc_id
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(CASE WHEN cum <= 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  CAST(sum(CASE WHEN cum <= 600 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept,
              |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
              |  (sum(n_tok) > 600) AS exhausted
              |FROM c GROUP BY 1 ORDER BY source""".stripMargin)),

    // MULTI-TOUCH ATTRIBUTION (x92) — the credit-assignment operator over
    // event streams (q43's funnel measures conversion; this one answers
    // "which touchpoints get the credit"): for each purchase, credit the
    // same user's view/click touches in the preceding 24 h under the
    // standard position-based (U-shaped) model — 40% first touch, 40%
    // last touch, 20% split evenly. Credit is integer ppm of a purchase
    // (400000/400000/200000 div k, remainder dropped exactly the same in
    // both engines' integer div), so the rollup is exact.
    //
    // Scale posture: the touch⋈purchase range join is q22's shape — an
    // equi-join on user_id with the time predicate pushed into the join
    // condition, never a cartesian; first/last selection rides ONE
    // per-purchase window exchange; the final rollup is bounded by
    // |event types|.
    QueryDef(
      "x92_attribution",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .select(col("event_id").as("t_id"), col("user_id"),
            col("event_type").as("t_type"), col("ts").as("t_ts"))
        // q22's interval-bucketed range join ([[graft.ops
        // .BucketedRangeJoin]] documents the multiset argument): the
        // [p_ts - 24h, p_ts) range looks BACKWARD (dir = -1), so each
        // purchase explodes to 2 (user, day) keys and each touch joins
        // its own day — group size bounded by per-user RATE, not history
        // length (plain user_id join: per-user purchases x touches grows
        // quadratically with SF; measured 0.7 -> 3.2 s at the 10x step).
        val dayUs = 86400000000L
        val pB = purchases.withColumn("bkt",
          graft.ops.BucketedRangeJoin.candidateBuckets(col("p_ts"), dayUs, dir = -1))
        val tB = touches
          .withColumn("bkt", graft.ops.BucketedRangeJoin.bucketOf(col("t_ts"), dayUs))
        val joined = pB.join(tB, Seq("user_id", "bkt"))
          .filter(col("t_ts") < col("p_ts") &&
            col("t_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
        val wAsc = Window.partitionBy("p_id").orderBy(col("t_ts"), col("t_id"))
        val wCnt = Window.partitionBy("p_id")
        joined
          .withColumn("rn_first", row_number().over(wAsc))
          .withColumn("rn_last",
            row_number().over(Window.partitionBy("p_id")
              .orderBy(col("t_ts").desc, col("t_id").desc)))
          .withColumn("k", count(lit(1)).over(wCnt))
          .withColumn("credit_ppm",
            when(col("rn_first") === 1, lit(400000L)).otherwise(lit(0L)) +
            when(col("rn_last") === 1, lit(400000L)).otherwise(lit(0L)) +
            expr("200000 div k"))
          .groupBy("t_type").agg(
            count(lit(1)).as("n_touches"),
            countDistinct(col("p_id")).as("n_purchases"),
            sum("credit_ppm").as("credit_ppm_total"))
          .orderBy("t_type")
      },
      Some("""WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
             |  FROM events WHERE event_type = 'purchase'),
             |t AS (SELECT event_id AS t_id, user_id, event_type AS t_type, ts AS t_ts
             |  FROM events WHERE event_type IN ('view', 'click')),
             |j AS (SELECT p.p_id, t.t_id, t.t_type, t.t_ts FROM p JOIN t USING (user_id)
             |  WHERE t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 24 HOUR),
             |r AS (SELECT *,
             |  row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn_first,
             |  row_number() OVER (PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) AS rn_last,
             |  count(*) OVER (PARTITION BY p_id) AS k FROM j),
             |c AS (SELECT t_type, p_id,
             |  (CASE WHEN rn_first = 1 THEN 400000 ELSE 0 END
             |   + CASE WHEN rn_last = 1 THEN 400000 ELSE 0 END
             |   + 200000 // k) AS credit_ppm FROM r)
             |SELECT t_type, CAST(count(*) AS BIGINT) AS n_touches,
             |  CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
             |  CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total
             |FROM c GROUP BY 1 ORDER BY t_type""".stripMargin)),

    // INTEGER-EXACT ANOMALY DETECTION (x93) — the monitoring primitive
    // over the event stream: per event type, score each hour's count
    // against its trailing-24-observed-bucket baseline with a z²-style
    // statistic kept ENTIRELY in integers: with W=24, S=Σc, SS=Σc² over
    // the trailing window, z² ≷ 4 (|z| > 2) is exactly
    // (W·n − S)² ≷ 4·(W·SS − S²) after clearing denominators — no
    // sqrt, no division, no float anywhere until the final reported
    // score_ppm (one integer div). Top-3 most anomalous hours per type.
    //
    // Scale posture: the hourly rollup partial-combines map-side; the
    // trailing stats and rank ride ONE per-type window exchange over the
    // |types|×|hours|-bounded frame. At 100 TB the hourly frame is still
    // tiny — the heavy lifting is the first rollup, which is one scan.
    QueryDef(
      "x93_event_anomaly",
      (s, d) => {
        val hourly = events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        val wTrail = Window.partitionBy("event_type").orderBy("hr")
          .rowsBetween(-24, -1)
        val scored = hourly
          .withColumn("s", sum("n").over(wTrail))
          .withColumn("ss", sum(col("n") * col("n")).over(wTrail))
          .withColumn("m", count(lit(1)).over(wTrail))
          .filter(col("m") === 24)
          .withColumn("dev2",
            (lit(24L) * col("n") - col("s")) * (lit(24L) * col("n") - col("s")))
          .withColumn("thr", lit(4L) * (lit(24L) * col("ss") - col("s") * col("s")))
          .withColumn("score_ppm",
            when(col("thr") === 0,
              when(col("dev2") === 0, lit(0L)).otherwise(lit(1000000000L)))
              .otherwise(expr("(dev2 * 1000000) div thr")))
        val wTop = Window.partitionBy("event_type")
          .orderBy(col("score_ppm").desc, col("hr"))
        scored.withColumn("rk", row_number().over(wTop).cast(LongType))
          .filter(col("rk") <= 3)
          .select(col("event_type"), col("rk"), col("hr"), col("n"),
            col("score_ppm"), (col("dev2") > col("thr")).as("is_anomaly"))
          .orderBy("event_type", "rk")
      },
      Some("""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
             |  CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
             |t AS (SELECT *,
             |  sum(n) OVER w AS s, sum(n * n) OVER w AS ss, count(*) OVER w AS m
             |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr
             |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
             |sc AS (SELECT event_type, hr, n,
             |  (24 * n - s) * (24 * n - s) AS dev2,
             |  4 * (24 * ss - s * s) AS thr FROM t WHERE m = 24),
             |scd AS (SELECT *, CASE WHEN thr = 0
             |    THEN CASE WHEN dev2 = 0 THEN 0 ELSE 1000000000 END
             |    ELSE (dev2 * 1000000) // thr END AS score_ppm FROM sc),
             |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
             |    ORDER BY score_ppm DESC, hr) AS BIGINT) AS rk FROM scd)
             |SELECT event_type, rk, hr, n, CAST(score_ppm AS BIGINT) AS score_ppm,
             |  (dev2 > thr) AS is_anomaly
             |FROM rk WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin)),

    // JOIN-SKEW ADVISOR (x94) — the planning diagnostic behind q61's
    // salted join: profile candidate join-key columns for hot keys and
    // recommend the salt factor a 32-partition shuffle would need —
    // salt = ⌈top_count / (rows/32)⌉ = (top_c·32 + rows − 1) div rows,
    // all-integer. A factor of 1 means no salting needed; >1 flags the
    // key for q61's (key, salt) treatment. The hot key itself is reported
    // (min key among those at the top count — deterministic).
    //
    // Scale posture: x85's shape — each column is an independent
    // column-pruned scan + one partial-combined key rollup; the advisor
    // frame itself is 3 rows. At 100 TB swap the exact per-key rollup for
    // x42's count-min heavy hitters; the recommendation formula is
    // unchanged.
    QueryDef(
      "x94_skew_advisor",
      (s, d) => {
        def profile(df: DataFrame, table: String, column: String): DataFrame = {
          val counts = df.select(col(column).cast(LongType).as("k"))
            .groupBy("k").agg(count(lit(1)).as("c"))
          counts.agg(
              sum("c").as("n_rows"),
              count(lit(1)).as("n_keys"),
              max("c").as("top_c"))
            // hot-key lookup: broadcast the 1-row max back over the key
            // rollup (NOT a global window — that would single-partition
            // the |keys|-sized frame at scale)
            .crossJoin(broadcast(counts
              .join(broadcast(counts.agg(max("c").as("mx"))), col("c") === col("mx"))
              .agg(min("k").as("top_key"))))
            .select(lit(table).as("tbl"), lit(column).as("col_name"),
              col("n_rows"), col("n_keys"), col("top_key"), col("top_c"),
              expr("(top_c * 32 + n_rows - 1) div n_rows").as("salt_factor"))
        }
        profile(events(s, d), "events", "user_id")
          .unionByName(profile(lineitem(s, d), "lineitem", "l_suppkey"))
          .unionByName(profile(lineitem(s, d), "lineitem", "l_partkey"))
          .orderBy("tbl", "col_name")
      },
      Some("""WITH pr AS (
             |  SELECT 'events' AS tbl, 'user_id' AS col_name, CAST(user_id AS BIGINT) AS k
             |    FROM events
             |  UNION ALL SELECT 'lineitem', 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem
             |  UNION ALL SELECT 'lineitem', 'l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem),
             |kc AS (SELECT tbl, col_name, k, CAST(count(*) AS BIGINT) AS c
             |  FROM pr GROUP BY 1, 2, 3),
             |ag AS (SELECT tbl, col_name, CAST(sum(c) AS BIGINT) AS n_rows,
             |  CAST(count(*) AS BIGINT) AS n_keys, max(c) AS top_c
             |  FROM kc GROUP BY 1, 2),
             |tk AS (SELECT kc.tbl, kc.col_name, min(kc.k) AS top_key
             |  FROM kc JOIN ag ON kc.tbl = ag.tbl AND kc.col_name = ag.col_name
             |    AND kc.c = ag.top_c
             |  GROUP BY 1, 2)
             |SELECT ag.tbl, ag.col_name, ag.n_rows, ag.n_keys, tk.top_key, ag.top_c,
             |  CAST((ag.top_c * 32 + ag.n_rows - 1) // ag.n_rows AS BIGINT) AS salt_factor
             |FROM ag JOIN tk ON ag.tbl = tk.tbl AND ag.col_name = tk.col_name
             |ORDER BY ag.tbl, ag.col_name""".stripMargin)),

    // HYBRID RETRIEVAL / RECIPROCAL RANK FUSION (x95) — the RAG-stack
    // primitive none of the single-ranker queries cover: fuse a LEXICAL
    // ranking (idf-weighted shared distinct tokens over documents) with a
    // VECTOR ranking (embedding cosine — vec_id aligns with doc_id in the
    // fixtures) via RRF: score = Σ 1/(60+rank), kept exact as integer ppm
    // 1000000 div (60+rank). Ranks themselves are deterministic (score
    // desc, id tiebreak), so the fused ordering is integer-exact.
    //
    // Scale posture: the lexical side joins query tokens to the corpus
    // through a df-bounded posting join (x50's shape), never all-pairs;
    // the vector side broadcasts the 3 query embeddings (q21's shape);
    // both rankings ride per-query window exchanges over candidate sets,
    // and the fuse is a candidate-sized outer merge.
    QueryDef(
      "x95_hybrid_rrf",
      (s, d) => {
        val qIds = Seq(1L, 2L, 3L)
        val docs = documents(s, d).select(col("doc_id"), col("text"))
        val tk = docs.select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("tok"))
        val dfreq = tk.groupBy("tok").agg(count(lit(1)).as("df"))
        val qTok = tk.filter(col("doc_id").isin(qIds: _*))
          .select(col("doc_id").as("q_id"), col("tok"))
        val lexScore = qTok
          .join(broadcast(dfreq), Seq("tok"))
          .join(tk.select(col("doc_id").as("c_id"), col("tok")), Seq("tok"))
          .filter(col("c_id") =!= col("q_id"))
          .groupBy("q_id", "c_id")
          .agg(sum(expr("1000000 div df")).as("lex"))
        val wLex = Window.partitionBy("q_id").orderBy(col("lex").desc, col("c_id"))
        val lexRank = lexScore.withColumn("r_lex", row_number().over(wLex))
          .filter(col("r_lex") <= 50)
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id").isin(qIds: _*))
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = e.filter(!col("vec_id").isin(qIds: _*))
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        val wVec = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("c_id"))
        val vecRank = c.join(broadcast(q))
          .withColumn("cos_raw", VectorFunctions.cosine(col("q_emb"), col("c_emb")))
          .withColumn("r_vec", row_number().over(wVec))
          .filter(col("r_vec") <= 50)
          .select(col("q_id"), col("c_id"), col("r_vec"))
        val fused = lexRank.select(col("q_id"), col("c_id"), col("r_lex"))
          .join(vecRank, Seq("q_id", "c_id"), "full_outer")
          .withColumn("rrf",
            coalesce(expr("1000000 div (60 + r_lex)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + r_vec)"), lit(0L)))
        val wTop = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("c_id"))
        fused.withColumn("rn", row_number().over(wTop).cast(LongType))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("rn"), col("c_id"), col("rrf"))
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH tk AS (SELECT doc_id, unnest(list_distinct($tokensSql)) AS tok FROM documents),
             |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY 1),
             |qt AS (SELECT doc_id AS q_id, tok FROM tk WHERE doc_id IN (1, 2, 3)),
             |lex AS (SELECT qt.q_id, c.doc_id AS c_id,
             |  CAST(sum(1000000 // df) AS BIGINT) AS lex
             |  FROM qt JOIN dfq ON qt.tok = dfq.tok JOIN tk c ON c.tok = qt.tok
             |  WHERE c.doc_id <> qt.q_id GROUP BY 1, 2),
             |lr AS (SELECT q_id, c_id,
             |  row_number() OVER (PARTITION BY q_id ORDER BY lex DESC, c_id) AS r_lex
             |  FROM lex QUALIFY r_lex <= 50),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
             |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm FROM e WHERE vec_id IN (1, 2, 3)),
             |c AS (SELECT vec_id AS c_id, emb AS c_emb, norm AS c_norm FROM e WHERE vec_id NOT IN (1, 2, 3)),
             |vr AS (SELECT q_id, c_id,
             |  row_number() OVER (PARTITION BY q_id
             |    ORDER BY list_dot_product(q_emb, c_emb) / (q_norm * c_norm) DESC, c_id) AS r_vec
             |  FROM q CROSS JOIN c QUALIFY r_vec <= 50),
             |f AS (SELECT coalesce(lr.q_id, vr.q_id) AS q_id,
             |  coalesce(lr.c_id, vr.c_id) AS c_id,
             |  CAST(coalesce(1000000 // (60 + lr.r_lex), 0)
             |     + coalesce(1000000 // (60 + vr.r_vec), 0) AS BIGINT) AS rrf
             |  FROM lr FULL OUTER JOIN vr ON lr.q_id = vr.q_id AND lr.c_id = vr.c_id),
             |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
             |    ORDER BY rrf DESC, c_id) AS BIGINT) AS rn FROM f)
             |SELECT q_id, rn, c_id, rrf FROM rk WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // DATASET CARD (x96) — the one-row release summary a corpus ships
    // with (the datasheet/dataset-card numbers): sizes, diversity counts,
    // exact-duplicate rate, and the length distribution's median. Each
    // number is an operator the catalog already gates in isolation
    // (x01 exact dedup, x10 token counts, q40 percentile family) — the
    // operator here is the COMPOSED single-pass summary.
    //
    // Exactness: counts and ppm are integers; p50 goes through q40's
    // established percentile surface rounded at 6 dp.
    //
    // Scale posture: one token-count pass and one hash-dedup pass, each a
    // partial-combined aggregate; the card itself is ONE row — every
    // exchange is bounded.
    QueryDef(
      "x96_dataset_card",
      (s, d) => {
        val docs = documents(s, d)
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"),
          round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"))
        val dups = docs
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_unique"),
            sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup_docs"))
        base.crossJoin(broadcast(dups))
          .select(col("n_docs"), col("n_sources"), col("n_langs"),
            col("n_tokens"), col("p50_chars"), col("n_unique"),
            expr("(dup_docs * 1000000) div n_docs").as("dup_ppm"))
      },
      Some(s"""WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |  CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens,
             |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars
             |  FROM documents),
             |h AS (SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1),
             |dups AS (SELECT CAST(count(*) AS BIGINT) AS n_unique,
             |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_docs FROM h)
             |SELECT n_docs, n_sources, n_langs, n_tokens, p50_chars, n_unique,
             |  CAST((dup_docs * 1000000) // n_docs AS BIGINT) AS dup_ppm
             |FROM base CROSS JOIN dups""".stripMargin)),

    // HARD-NEGATIVE MINING (x97) — contrastive-training prep over the
    // embedding table: for each query vector, the top-3 most similar
    // candidates with a DIFFERENT label (q21's broadcast top-k shape plus
    // the label-disagreement predicate). These are exactly the pairs a
    // contrastive loss needs: close in embedding space, semantically
    // distinct by supervision.
    QueryDef(
      "x97_hard_negatives",
      (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("label").as("q_label"))
        val c = e.filter(col("vec_id") >= 5)
          .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
            col("label").as("n_label"))
        val w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("n_id"))
        c.join(broadcast(q))
          .filter(col("n_label") =!= col("q_label"))
          .withColumn("cos_raw", VectorFunctions.cosine(col("q_emb"), col("n_emb")))
          .withColumn("rn", row_number().over(w).cast(LongType))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("rn"), col("n_id"),
            col("n_label").cast(LongType).as("n_label"),
            round(col("cos_raw"), 6).as("cos_sim"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb,
             |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm, label AS q_label
             |  FROM e WHERE vec_id IN (1, 2, 3)),
             |c AS (SELECT vec_id AS n_id, emb AS n_emb, norm AS n_norm, label AS n_label
             |  FROM e WHERE vec_id >= 5),
             |x AS (SELECT q_id, n_id, n_label,
             |  list_dot_product(q_emb, n_emb) / (q_norm * n_norm) AS cos_raw
             |  FROM q CROSS JOIN c WHERE n_label <> q_label),
             |r AS (SELECT q_id, n_id, n_label, cos_raw,
             |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, n_id) AS BIGINT) AS rn
             |  FROM x)
             |SELECT q_id, rn, n_id, CAST(n_label AS BIGINT) AS n_label,
             |  round(cos_raw, 6) AS cos_sim
             |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // LANG-ID CONFUSION EVAL (x98) — the evaluation closing x08's loop:
    // score the heuristic's predictions against the labeled lang column
    // as a confusion matrix with per-true-lang share in integer ppm. The
    // eval-against-supervision pattern (predict → join truth → matrix) is
    // the operator; zh having no marker set makes the matrix genuinely
    // informative (its row lands on the 'en' fallback).
    //
    // Scale posture: x08's fused one-pass marker count, then ONE
    // (lang, pred) aggregate bounded by |langs|²; the per-lang totals
    // broadcast back.
    QueryDef(
      "x98_langid_confusion",
      (s, d) => {
        val en = Seq("the", "a", "of", "and", "to")
        val de = Seq("der", "die", "das", "und", "ist")
        val fr = Seq("le", "la", "les", "et", "est")
        val es = Seq("el", "los", "las", "y", "es")
        val pred = documents(s, d)
          .select(col("doc_id"), col("lang"), tokens(col("text")).as("tk"))
          .withColumn("__sc",
            graft.functions.TokenSetCounts.counts(col("tk"), Seq(en, de, fr, es)))
          .withColumn("pred_lang",
            when(col("__sc")(0) >= col("__sc")(1) && col("__sc")(0) >= col("__sc")(2)
              && col("__sc")(0) >= col("__sc")(3), "en")
              .when(col("__sc")(1) >= col("__sc")(2) && col("__sc")(1) >= col("__sc")(3), "de")
              .when(col("__sc")(2) >= col("__sc")(3), "fr")
              .otherwise("es"))
        val cm = pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        val tot = cm.groupBy("lang").agg(sum("n").as("lang_total"))
        cm.join(broadcast(tot), Seq("lang"))
          .select(col("lang"), col("pred_lang"), col("n"),
            expr("(n * 1000000) div lang_total").as("share_ppm"),
            (col("lang") === col("pred_lang")).as("is_correct"))
          .orderBy("lang", "pred_lang")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, $tokensSql AS tk FROM documents),
              |m AS (SELECT doc_id, lang,
              |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS s_en,
              |  CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
              |  CAST(len(list_filter(tk, x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS s_fr,
              |  CAST(len(list_filter(tk, x -> x IN ('el','los','las','y','es'))) AS BIGINT) AS s_es
              |  FROM t),
              |p AS (SELECT lang,
              |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
              |       WHEN s_fr >= s_es THEN 'fr'
              |       ELSE 'es' END AS pred_lang FROM m),
              |cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
              |  FROM p GROUP BY 1, 2),
              |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total FROM cm GROUP BY 1)
              |SELECT cm.lang, cm.pred_lang, cm.n,
              |  CAST((cm.n * 1000000) // tot.lang_total AS BIGINT) AS share_ppm,
              |  (cm.lang = cm.pred_lang) AS is_correct
              |FROM cm JOIN tot ON cm.lang = tot.lang
              |ORDER BY cm.lang, cm.pred_lang""".stripMargin)),

    // PREFIX-CACHE ANALYSIS (x99) — the serving-side diagnostic behind
    // prompt caching: at each prefix length K, how many documents share
    // their first-K-token prefix with another document — the upper bound
    // on prefix-cache hits a batcher could realize (hits = eligible docs
    // minus distinct prefixes). Prefixes compare by md5 of the
    // ''-joined first K tokens — identical strings both engines.
    //
    // Scale posture: the K fan-out is a narrow ×3; ONE (K, prefix-hash)
    // partial-combined aggregate carries 16-byte digests (never text),
    // then a 3-row rollup. No joins.
    QueryDef(
      "x99_prefix_cache",
      (s, d) => {
        val ks = Seq(4, 8, 16)
        val tk = documents(s, d).select(col("doc_id"), tokens(col("text")).as("tk"))
        val pref = tk.select(col("doc_id"), size(col("tk")).as("n"),
            explode(array(ks.map(lit): _*)).as("k"), col("tk"))
          .filter(col("n") >= col("k"))
          .select(col("k"),
            md5(concat_ws("", slice(col("tk"), 1, 4)).cast("binary")).as("p4"),
            md5(concat_ws("", slice(col("tk"), 1, 8)).cast("binary")).as("p8"),
            md5(concat_ws("", slice(col("tk"), 1, 16)).cast("binary")).as("p16"))
          .select(col("k"),
            when(col("k") === 4, col("p4"))
              .when(col("k") === 8, col("p8")).otherwise(col("p16")).as("ph"))
        pref.groupBy("k", "ph").agg(count(lit(1)).as("c"))
          .groupBy("k").agg(
            sum("c").as("n_docs"),
            count(lit(1)).as("n_prefixes"),
            (sum("c") - count(lit(1))).as("n_hits"))
          .withColumn("hit_ppm", expr("(n_hits * 1000000) div n_docs"))
          .select(col("k").cast(LongType).as("k"), col("n_docs"),
            col("n_prefixes"), col("n_hits"), col("hit_ppm"))
          .orderBy("k")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
              |pf AS (SELECT k, md5(array_to_string(tk[1:k], chr(1))) AS ph
              |  FROM tk CROSS JOIN (SELECT unnest([4, 8, 16]) AS k)
              |  WHERE len(tk) >= k),
              |g AS (SELECT k, ph, CAST(count(*) AS BIGINT) AS c FROM pf GROUP BY 1, 2)
              |SELECT CAST(k AS BIGINT) AS k, CAST(sum(c) AS BIGINT) AS n_docs,
              |  CAST(count(*) AS BIGINT) AS n_prefixes,
              |  CAST(sum(c) - count(*) AS BIGINT) AS n_hits,
              |  CAST(((sum(c) - count(*)) * 1000000) // sum(c) AS BIGINT) AS hit_ppm
              |FROM g GROUP BY 1 ORDER BY k""".stripMargin)),

    // TOKENIZER FERTILITY BY LANGUAGE (x100) — the multilingual
    // tokenizer-efficiency report (pieces per word, chars per piece) that
    // decides whether a vocab undertrains a language: encode the DISTINCT
    // word vocabulary once through x57's merge table, then weight each
    // word's piece count by its per-language usage. High fertility =
    // the language pays more sequence length per word.
    //
    // Scale posture: the vocab encode touches |vocab| rows, not the
    // corpus; per-(lang, word) counts partial-combine map-side; the join
    // back broadcasts the encoded vocab; the report is |langs| rows.
    QueryDef(
      "x100_tokenizer_fertility",
      (s, d) => {
        val merges = Seq(("t", "h"), ("e", "r"), ("i", "n"), ("a", "t"), ("o", "r"))
        val byLang = documents(s, d)
          .select(col("lang"), explode(tokens(col("text"))).as("word"))
          .filter(col("word") =!= "")
          .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
        val spaced = byLang.select("word").distinct()
          .withColumn("s", regexp_replace(col("word"), "(.)", "<$1>"))
        val encoded = merges.foldLeft(spaced) { case (df, (a, b)) =>
          df.withColumn("s", expr(s"replace(s, '<$a><$b>', '<$a$b>')"))
        }
        val pieces = encoded.select(col("word"),
          (length(col("s")) - length(expr("replace(s, '<', '')")))
            .cast(LongType).as("n_pieces"),
          length(col("word")).cast(LongType).as("n_chars"))
        byLang.join(broadcast(pieces), Seq("word"))
          .groupBy("lang").agg(
            sum("freq").as("n_words"),
            sum(col("freq") * col("n_pieces")).as("n_pieces"),
            sum(col("freq") * col("n_chars")).as("n_chars"))
          .withColumn("fertility_ppm", expr("(n_pieces * 1000000) div n_words"))
          .withColumn("chars_per_piece_ppm", expr("(n_chars * 1000000) div n_pieces"))
          .orderBy("lang")
      },
      Some(s"""WITH w AS (SELECT lang, unnest($tokensSql) AS word FROM documents),
              |f AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS freq FROM w
              |  WHERE word <> '' GROUP BY 1, 2),
              |v AS (SELECT DISTINCT word FROM f),
              |e AS (SELECT word,
              |  replace(replace(replace(replace(replace(
              |    regexp_replace(word, '(.)', '<\\1>', 'g'),
              |    '<t><h>', '<th>'), '<e><r>', '<er>'), '<i><n>', '<in>'),
              |    '<a><t>', '<at>'), '<o><r>', '<or>') AS s
              |  FROM v),
              |p AS (SELECT word,
              |  CAST(len(s) - len(replace(s, '<', '')) AS BIGINT) AS n_pieces,
              |  CAST(len(word) AS BIGINT) AS n_chars FROM e)
              |SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
              |  CAST(sum(freq * n_pieces) AS BIGINT) AS n_pieces,
              |  CAST(sum(freq * n_chars) AS BIGINT) AS n_chars,
              |  CAST((sum(freq * n_pieces) * 1000000) // sum(freq) AS BIGINT) AS fertility_ppm,
              |  CAST((sum(freq * n_chars) * 1000000) // sum(freq * n_pieces) AS BIGINT) AS chars_per_piece_ppm
              |FROM f JOIN p USING (word) GROUP BY 1 ORDER BY lang""".stripMargin)),

    // JPEG ENTROPY DECODE (x101) — closes the entropy-coding gap the
    // multimodal family documented since x27/x36 (headers real, pixels
    // stubbed): ops.JpegDecoder is a full pure-Scala T.81 baseline decoder
    // (canonical Huffman, run-length/EOB/ZRL, dequant, zigzag, 8×8 IDCT,
    // level shift, YCbCr→RGB, restarts, byte unstuffing — spec-validated
    // against the JDK's own ImageIO codec on real 4:2:0 streams). The
    // GATE uses x36's paired-construction discipline: both engines build
    // the same DC-only baseline streams byte for byte (custom Huffman
    // tables make the entropy segment 2–3 bytes whose decoded plane is
    // EXACTLY 128+v — integer arithmetic end to end, no IDCT tolerance),
    // Spark decodes through the REAL general decoder, DuckDB predicts the
    // pixel plane arithmetically. A decoder bug anywhere on the DC path
    // (table build, bit order, EXTEND, prediction, dequant, IDCT scaling,
    // clamp) breaks the hash.
    //
    // Scale posture: x36's — blob construction is narrow per-row expr,
    // decode is mapPartitions over binary (the one shape byte-decoding
    // genuinely needs), output exchanges carry id-keyed hex, bounded rows.
    QueryDef(
      "x101_jpeg_entropy_decode",
      (s, d) => {
        // per-doc DC value v in [32,63] (EXTEND identity range); kind 0 a
        // single 8×8 MCU, kind 1 a 16×8 two-MCU stream whose second block
        // rides DC prediction, kind 2 the same two MCUs split by a DRI=1
        // restart marker (byte realign + predictor reset, so the value is
        // re-encoded)
        val base = documents(s, d).filter(col("doc_id") < 32)
          .select(col("doc_id"), (col("doc_id") + 32).as("v"),
            (col("doc_id") % 3).as("kind"))
          .withColumn("w_hex", expr("CASE WHEN kind = 0 THEN '0008' ELSE '0010' END"))
          .withColumn("dri_hex", expr("CASE WHEN kind = 2 THEN 'FFDD00040001' ELSE '' END"))
          .withColumn("entropy_hex", expr(
            s"CASE WHEN kind = 0 THEN concat(${hbS("64 + v")}, '03') " +
              s"WHEN kind = 1 THEN concat(${hbS("64 + v")}, '0003') " +
              s"ELSE concat(${hbS("64 + v")}, '03', 'FFD0', ${hbS("64 + v")}, '03') END"))
          .withColumn("hx", expr(
            "concat('FFD8', 'FFDB004300', '08', repeat('01', 63), dri_hex, " +
              "'FFC0000B08', '0008', w_hex, '01', '011100', " +
              "'FFC4001500', '0002', repeat('00', 14), '0006', " +
              "'FFC4001410', '000000000001', repeat('00', 10), '00', " +
              "'FFDA000801', '0100', '003F00', entropy_hex, 'FFD9')"))
        graft.ops.Multimodal.jpegPixels(
            base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .select(col("media_id"), col("format"), col("width"), col("height"),
            col("n_comp"), col("pixel_hex"))
          .orderBy("media_id")
      },
      Some(s"""WITH b AS (SELECT doc_id, doc_id + 32 AS v, doc_id % 3 AS kind
             |  FROM documents WHERE doc_id < 32)
             |SELECT doc_id AS media_id,
             |  'image/jpeg-gray' AS format,
             |  CAST(CASE WHEN kind = 0 THEN 8 ELSE 16 END AS BIGINT) AS width,
             |  CAST(8 AS BIGINT) AS height,
             |  CAST(1 AS BIGINT) AS n_comp,
             |  repeat(${hbD("128 + v")}, CASE WHEN kind = 0 THEN 64 ELSE 128 END) AS pixel_hex
             |FROM b ORDER BY media_id""".stripMargin)),

    // PNG FILTERED-ROW DECODE (x102) — the unfilter path x36's stored-block
    // gate could not reach (its valid rows are all filter-None): every
    // scanline here carries a REAL spec filter — (doc_id + row) % 5 walks
    // None/Sub/Up/Average/Paeth inside every image — over both gray (bpp=1)
    // and RGB (bpp=3) geometry, so the left/above/above-left neighbor
    // distances are both exercised. Spark builds the byte-exact PNG (x36's
    // stored-deflate + SQL Adler-32 + builtin crc32 machinery, real CRCs
    // everywhere) and decodes it through the REAL decoder
    // (Multimodal.Png); DuckDB never decodes — it recomputes the RFC 2083
    // §6 reconstruction recurrence itself in a recursive CTE whose state
    // is the reconstructed pixel list (left/above/above-left reads are
    // 1-based list indexes). A decoder bug in any filter's predictor
    // (incl. Paeth's a>b>c tie order), in bpp-offset handling, or in
    // mod-256 wraparound breaks the hash.
    //
    // Scale posture: x36's — blob construction is narrow per-row expr,
    // decode is mapPartitions over binary (the one shape byte-decoding
    // genuinely needs), output exchanges carry id-keyed hex, bounded rows.
    QueryDef(
      "x102_png_filtered_decode",
      (s, d) => {
        // payload byte at offset p of the raw (pre-deflate) stream: a
        // filter byte at each row start, then the FILTERED data bytes
        val pix = "CASE WHEN p % stride = 0 THEN (doc_id + p div stride) % 5 " +
          "ELSE (doc_id * 31 + (p div stride) * 11 + (p % stride - 1) * 7 + 3) % 256 END"
        val base = documents(s, d).filter(col("doc_id") < 50)
          .select(col("doc_id"), (col("doc_id") % 2).as("kind"))
          .withColumn("w", expr("CAST(CASE WHEN kind = 0 THEN 4 ELSE 3 END AS BIGINT)"))
          .withColumn("h", expr("CAST(CASE WHEN kind = 0 THEN 5 ELSE 4 END AS BIGINT)"))
          .withColumn("bpp", expr("CAST(CASE WHEN kind = 0 THEN 1 ELSE 3 END AS BIGINT)"))
          .withColumn("stride", expr("1 + w * bpp"))
          .withColumn("L", expr("h * stride"))
          .withColumn("payload_hex",
            expr(s"array_join(transform(sequence(CAST(0 AS BIGINT), L - 1), p -> ${hbS(pix)}), '')"))
          .withColumn("adler", expr(
            s"((L + aggregate(sequence(CAST(0 AS BIGINT), L - 1), CAST(0 AS BIGINT), " +
              s"(acc, p) -> acc + (L - p) * ($pix))) % 65521) * 65536 + " +
              s"(1 + aggregate(sequence(CAST(0 AS BIGINT), L - 1), CAST(0 AS BIGINT), " +
              s"(acc, p) -> acc + ($pix))) % 65521"))
          .withColumn("zlib_hex", expr(
            s"concat('780101', ${le16S("L")}, ${le16S("65535 - L")}, payload_hex, ${be32S("adler")})"))
          .withColumn("ihdr_hex", expr(
            s"concat(${be32S("w")}, ${be32S("h")}, '08', " +
              "CASE WHEN kind = 1 THEN '02' ELSE '00' END, '000000')"))
          .withColumn("hx", expr(
            s"concat('89504E470D0A1A0A', '0000000D49484452', ihdr_hex, " +
              s"${be32S("crc32(unhex(concat('49484452', ihdr_hex)))")}, " +
              s"${be32S("L + 11")}, '49444154', zlib_hex, " +
              s"${be32S("crc32(unhex(concat('49444154', zlib_hex)))")}, " +
              "'0000000049454E44AE426082')"))
        graft.ops.Multimodal.pngMeta(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .select(col("media_id"), col("format"), col("width"), col("height"),
            col("bit_depth"), col("pixel_hex"))
          .orderBy("media_id")
      },
      Some(s"""WITH RECURSIVE b AS (SELECT doc_id, doc_id % 2 AS kind,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS BIGINT) AS w,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 4 END AS BIGINT) AS h,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS BIGINT) AS bpp
             |  FROM documents WHERE doc_id < 50),
             |g AS (SELECT *, w * bpp AS rb, h * w * bpp AS n FROM b),
             |rec AS (
             |  SELECT doc_id, kind, w, h, bpp, rb, n, CAST(0 AS BIGINT) AS p,
             |    CAST([] AS BIGINT[]) AS px FROM g
             |  UNION ALL
             |  SELECT doc_id, kind, w, h, bpp, rb, n, p + 1,
             |    list_append(px, (fx + CASE ft WHEN 0 THEN 0 WHEN 1 THEN la WHEN 2 THEN ab
             |      WHEN 3 THEN (la + ab) // 2
             |      ELSE CASE
             |        WHEN abs(ab - ul) <= abs(la - ul)
             |          AND abs(ab - ul) <= abs(la + ab - 2 * ul) THEN la
             |        WHEN abs(la - ul) <= abs(la + ab - 2 * ul) THEN ab
             |        ELSE ul END
             |      END) % 256)
             |  FROM (
             |    SELECT *,
             |      (doc_id + (p // rb)) % 5 AS ft,
             |      (doc_id * 31 + (p // rb) * 11 + (p % rb) * 7 + 3) % 256 AS fx,
             |      CASE WHEN p % rb >= bpp THEN px[(p - bpp + 1)::INT] ELSE 0 END AS la,
             |      CASE WHEN p >= rb THEN px[(p - rb + 1)::INT] ELSE 0 END AS ab,
             |      CASE WHEN p >= rb AND p % rb >= bpp THEN px[(p - rb - bpp + 1)::INT] ELSE 0 END AS ul
             |    FROM rec WHERE p < n) t)
             |SELECT doc_id AS media_id,
             |  CASE WHEN kind = 1 THEN 'image/png-rgb' ELSE 'image/png-gray' END AS format,
             |  w AS width, h AS height, CAST(8 AS BIGINT) AS bit_depth,
             |  array_to_string(list_transform(px, v -> ${hbD("v")}), '') AS pixel_hex
             |FROM rec WHERE p = n ORDER BY media_id""".stripMargin)),

    // GIF LZW ENTROPY DECODE (x103) — the THIRD entropy-coding family made
    // real (Huffman x101, DEFLATE-container x36/x102, now LZW): Spark
    // constructs byte-exact GIFs whose LZW code streams are built bit by
    // bit in SQL (3-bit codes packed LSB-first through a closed-form
    // byte expression), then decodes them through ops.GifDecoder — full
    // variable-width LZW with dictionary growth, the KwKwK
    // (code == next-free) special case, a code-width bump mid-stream, a
    // back-reference at the new width, clear-code resets, extension
    // skipping, and sub-block reassembly (kind 2 splits the same stream
    // across two sub-blocks behind a Graphic Control Extension; kind 1's
    // static tail '6F05' is the hand-packed [6,7,6@4bit,EOI@4bit]
    // sequence, spec-derived in GifDecoderSpec). DuckDB never parses the
    // container — it predicts each kind's index plane arithmetically
    // (clear-interleaved literals make the plane the literal sequence;
    // the KwKwK run expands to [v][vv][vvv][vv] = 8×v). kind 3 sets the
    // local-color-table flag, which is out of documented scope and must
    // route to the fake-decoder row ('GI' bytes ⇒ 23×25 fake-gray).
    //
    // Scale posture: x36's — blob construction is narrow per-row expr,
    // decode is mapPartitions over binary, bounded rows (48 docs).
    QueryDef(
      "x103_gif_lzw_decode",
      (s, d) => {
        // kind 0/2/3 code stream: CLEAR p0 CLEAR p1 … CLEAR p7 EOI — 17
        // 3-bit codes = 51 bits packed LSB-first into 7 bytes; code j is
        // EOI(5) at j=16, CLEAR(4) at even j, else pixel (doc*7+i*5+3)%4
        val i_ = "(b * 8 + t)"
        val cj = s"(CASE WHEN ($i_ div 3) = 16 THEN 5 WHEN ($i_ div 3) % 2 = 0 THEN 4 " +
          s"ELSE (doc_id * 7 + ((($i_ div 3) - 1) div 2) * 5 + 3) % 4 END)"
        val bit = s"(($cj div (CASE $i_ % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)) % 2)"
        val pw = "(CASE t WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8 " +
          "WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 128 END)"
        val byteExpr = "aggregate(sequence(CAST(0 AS BIGINT), 7), CAST(0 AS BIGINT), " +
          s"(acc, t) -> acc + CASE WHEN b * 8 + t >= 51 THEN 0 ELSE $bit * $pw END)"
        val base = documents(s, d).filter(col("doc_id") < 48)
          .select(col("doc_id"), (col("doc_id") % 4).as("kind"))
          .withColumn("v", expr("(doc_id * 3 + 1) % 4"))
          .withColumn("w", expr("CAST(CASE WHEN kind = 1 THEN 8 ELSE 4 END AS BIGINT)"))
          .withColumn("h", expr("CAST(CASE WHEN kind = 1 THEN 1 ELSE 2 END AS BIGINT)"))
          .withColumn("payload_hex",
            expr(s"array_join(transform(sequence(CAST(0 AS BIGINT), 6), b -> ${hbS(byteExpr)}), '')"))
          .withColumn("data_hex", expr(
            s"CASE WHEN kind = 1 THEN concat('03', ${hbS("132 + 8 * v")}, '6F05') " +
              "WHEN kind = 2 THEN concat('04', substring(payload_hex, 1, 8), " +
              "'03', substring(payload_hex, 9, 6)) " +
              "ELSE concat('07', payload_hex) END"))
          .withColumn("hx", expr(
            s"concat('474946383961', ${le16S("w")}, ${le16S("h")}, 'F10000', " +
              "'0000005511AAAA5511FFEE33', " +
              "CASE WHEN kind = 2 THEN '21F9040000000000' ELSE '' END, " +
              s"'2C', '00000000', ${le16S("w")}, ${le16S("h")}, " +
              "CASE WHEN kind = 3 THEN '80' ELSE '00' END, " +
              "'02', data_hex, '00', '3B')"))
        graft.ops.Multimodal.gifPixels(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .select(col("media_id"), col("format"), col("width"), col("height"),
            col("n_colors"), col("pixel_hex"))
          .orderBy("media_id")
      },
      Some(s"""WITH b AS (SELECT doc_id, doc_id % 4 AS kind, (doc_id * 3 + 1) % 4 AS v
             |  FROM documents WHERE doc_id < 48)
             |SELECT doc_id AS media_id,
             |  CASE WHEN kind = 3 THEN 'img/fake-gray' ELSE 'image/gif' END AS format,
             |  CAST(CASE WHEN kind = 3 THEN 23 WHEN kind = 1 THEN 8 ELSE 4 END AS BIGINT) AS width,
             |  CAST(CASE WHEN kind = 3 THEN 25 WHEN kind = 1 THEN 1 ELSE 2 END AS BIGINT) AS height,
             |  CAST(CASE WHEN kind = 3 THEN NULL ELSE 4 END AS BIGINT) AS n_colors,
             |  CASE WHEN kind = 3 THEN NULL
             |    WHEN kind = 1 THEN repeat(${hbD("v")}, 8)
             |    ELSE array_to_string(list_transform(range(0, 8),
             |      i -> ${hbD("(doc_id * 7 + i * 5 + 3) % 4")}), '')
             |  END AS pixel_hex
             |FROM b ORDER BY media_id""".stripMargin)),

    // BPE MERGE TRAINING (x104) — the iterative LEARNING loop the rest of
    // the tokenizer family factored out: x54 counts candidate pairs once,
    // x57/x100 APPLY a fixed merge table; this trains one — 5 rounds of
    // count-argmax-apply over the spaced symbol representation
    // (Sennrich et al.'s algorithm, on the word-frequency table as the
    // original does). Argmax ties break lexicographically so the learned
    // sequence is deterministic; the chosen pair is applied via a
    // broadcast 1-row cross join + literal (non-regex) replace, so merges
    // compound (round 2 can fuse round 1's output symbol — on this corpus
    // '<th>' typically emerges then participates immediately).
    //
    // Scale posture: the iteration state is the |vocab|-sized word table,
    // never the corpus (the one freq aggregate at the start carries
    // multiplicity); each round is one partial-combined pair aggregate +
    // a TakeOrdered(1) + a broadcast map-side apply — no shuffle grows
    // with corpus size. Rounds are localCheckpoint-truncated
    // (TransitiveClosure's discipline) so the plan stays round-sized
    // instead of doubling per round; Bench's end-of-query sweep releases
    // the blocks.
    QueryDef(
      "x104_bpe_train",
      (s, d) => {
        val wf = documents(s, d)
          .select(explode(tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
          .groupBy("w").agg(count(lit(1)).cast(LongType).as("freq"))
          .withColumn("s", regexp_replace(col("w"), "(.)", "<$1>"))
        def pairCounts(v: DataFrame): DataFrame = v
          .withColumn("sym", split(regexp_replace(col("s"), "^<|>$", ""), "><"))
          .filter(size(col("sym")) >= 2)
          .select(explode(expr("transform(sequence(1, size(sym) - 1), " +
            "i -> concat('<', element_at(sym, i), '><', element_at(sym, i + 1), '>'))"))
            .as("pair"), col("freq"))
          .groupBy("pair").agg(sum(col("freq")).cast(LongType).as("n"))
        var vocab = wf.localCheckpoint(true)
        val merges = (1 to 5).map { r =>
          val best = pairCounts(vocab).orderBy(col("n").desc, col("pair")).limit(1)
            .localCheckpoint(true)
          vocab = vocab.crossJoin(broadcast(best.select(col("pair").as("bp"))))
            .withColumn("s", expr("replace(s, bp, replace(bp, '><', ''))"))
            .drop("bp")
            .localCheckpoint(true)
          best.select(lit(r.toLong).as("iter"), col("pair"), col("n"))
        }
        merges.reduce(_ unionByName _).orderBy("iter")
      },
      Some {
        val stages = (1 to 5).map { r =>
          s"""p$r AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
             |  SELECT unnest(list_transform(range(1, len(sym)),
             |    i -> '<' || sym[i] || '><' || sym[i + 1] || '>')) AS pair, freq
             |  FROM (SELECT str_split(regexp_replace(s, '^<|>$$', '', 'g'), '><') AS sym,
             |        freq FROM v$r) WHERE len(sym) >= 2) GROUP BY 1),
             |b$r AS (SELECT pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
             |v${r + 1} AS (SELECT w, replace(v.s, b.pair, replace(b.pair, '><', '')) AS s,
             |  freq FROM v$r v CROSS JOIN b$r b)""".stripMargin
        }.mkString(",\n")
        s"""WITH toks AS (SELECT unnest($tokensSql) AS w FROM documents),
           |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM toks
           |  WHERE regexp_full_match(w, '[a-z0-9]+') GROUP BY 1),
           |v1 AS (SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS s, freq FROM wf),
           |$stages
           |${(1 to 5).map(r => s"SELECT CAST($r AS BIGINT) AS iter, pair, n FROM b$r")
              .mkString("", " UNION ALL ", "")}
           |ORDER BY iter""".stripMargin
      }),

    // TAR SHARD INDEXING (x105) — the WebDataset access path: multimodal
    // training corpora ship as tar shards and loaders read a member INDEX
    // (name, offset, size), then range-read payloads without unpacking.
    // graft.ops.TarIndex walks ustar headers for real — name text, octal
    // size/chksum fields, 512-block rounding, checksum verification with
    // the chksum field read as spaces — pure byte arithmetic, no codec
    // (the PPM/BMP/WAV posture). Shards are built byte-identically in SQL
    // from shared formulas: 3 members each (txt/jpg/cls basename pairing),
    // header checksums ENCODED from the same closed-form byte-sum the
    // decoder recomputes, and shards 3 and 8 carry one member with a
    // deliberately off-by-one stored checksum — the decoder must flag it
    // (checksum_ok = false) and KEEP WALKING (one flipped byte costs one
    // sample, not the shard). The oracle predicts every field arithmetically
    // (offsets are i*1024 because each payload ≤ 511 bytes pads to one
    // block), so any drift in the builder's octal/checksum encoding OR the
    // decoder's parse breaks parity. Scale: shards decode independently in
    // a narrow flatMap; nothing shuffles until the final ORDER BY.
    QueryDef(
      "x105_tar_shard_index",
      (s, d) => {
        val shardHex = s"concat(${tarMemberHexS(0)}, ${tarMemberHexS(1)}, " +
          s"${tarMemberHexS(2)}, repeat('00', 1024))"
        val blobs = documents(s, d).filter(col("doc_id") < 12)
          .select(col("doc_id").as("media_id"), unhex(expr(shardHex)).as("media"))
        graft.ops.TarIndex.index(blobs)
          .select(col("shard_id"), col("name"), col("offset"), col("size"),
            col("checksum_ok"))
          .orderBy("shard_id", "offset")
      },
      Some("""WITH m AS (SELECT doc_id, CAST(i AS BIGINT) AS i
             |  FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS i)
             |  WHERE doc_id < 12)
             |SELECT doc_id AS shard_id,
             |  'm' || lpad(CAST(doc_id * 3 + i AS VARCHAR), 6, '0') ||
             |    CASE i WHEN 0 THEN '.txt' WHEN 1 THEN '.jpg' ELSE '.cls' END AS name,
             |  CAST(i * 1024 AS BIGINT) AS "offset",
             |  CAST(1 + (doc_id * 7 + i * 13) % 511 AS BIGINT) AS size,
             |  NOT (doc_id % 5 = 3 AND i = 1) AS checksum_ok
             |FROM m ORDER BY shard_id, "offset"""".stripMargin)),

    // WATERMARK ADVISOR (x106) — the Structured Streaming tuning question
    // answered from history: how late do events actually arrive, so what
    // withWatermark bound keeps state small without dropping data? Arrival
    // order is event_id; an event's lateness is how far the per-type
    // event-time FRONT (running max ts over everything that arrived before
    // it) had already advanced past its own timestamp. Exact integer
    // seconds end to end: the µs subtraction happens BEFORE the ÷1e6 floor
    // (greatest(front,ts) first — Spark's div truncates toward zero while
    // DuckDB's // floors, so the dividend must be non-negative), and
    // p50/p95 are exact order statistics picked by row_number against
    // ceil-rank formulas ((n+1) div 2, (95n+99) div 100) — no
    // percentile_approx on either side. The advised watermark is p95
    // rounded up to the next 10 s. Scale: all three windows and the final
    // rollup share ONE hash exchange on event_type; at 100 TB arrival
    // order is per ingestion shard, so the partition key becomes
    // (event_type, shard) and per-shard fronts merge in the rollup — the
    // query shape is unchanged.
    QueryDef(
      "x106_watermark_advisor",
      (s, d) => {
        val wFront = Window.partitionBy("event_type").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRank = Window.partitionBy("event_type")
          .orderBy(col("lat_s"), col("event_id"))
        val wAll = Window.partitionBy("event_type")
        events(s, d)
          .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
          .withColumn("front_us", max(col("us")).over(wFront))
          .withColumn("lat_s",
            expr("(greatest(coalesce(front_us, us), us) - us) div 1000000"))
          .withColumn("rn", row_number().over(wRank))
          .withColumn("n", count(lit(1)).over(wAll))
          .groupBy("event_type")
          .agg(
            expr("CAST(max(n) AS BIGINT) AS n_events"),
            expr("CAST(sum(CASE WHEN lat_s >= 60 THEN 1 ELSE 0 END) * 1000000 " +
              "div max(n) AS BIGINT) AS late_ppm"),
            expr("CAST(max(CASE WHEN rn = (n + 1) div 2 THEN lat_s END) " +
              "AS BIGINT) AS p50_s"),
            expr("CAST(max(CASE WHEN rn = (95 * n + 99) div 100 THEN lat_s END) " +
              "AS BIGINT) AS p95_s"),
            expr("CAST(max(lat_s) AS BIGINT) AS max_s"),
            expr("CAST(((max(CASE WHEN rn = (95 * n + 99) div 100 THEN lat_s END) " +
              "+ 9) div 10) * 10 AS BIGINT) AS watermark_s"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
             |lat AS (SELECT event_type, event_id,
             |  (greatest(coalesce(max(us) OVER (PARTITION BY event_type
             |     ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |   us), us) - us) // 1000000 AS lat_s
             |  FROM ev),
             |r AS (SELECT event_type, lat_s,
             |  row_number() OVER (PARTITION BY event_type ORDER BY lat_s, event_id) AS rn,
             |  count(*) OVER (PARTITION BY event_type) AS n FROM lat)
             |SELECT event_type,
             |  CAST(max(n) AS BIGINT) AS n_events,
             |  CAST(sum(CASE WHEN lat_s >= 60 THEN 1 ELSE 0 END) * 1000000 // max(n)
             |    AS BIGINT) AS late_ppm,
             |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lat_s END) AS BIGINT) AS p50_s,
             |  CAST(max(CASE WHEN rn = (95 * n + 99) // 100 THEN lat_s END)
             |    AS BIGINT) AS p95_s,
             |  CAST(max(lat_s) AS BIGINT) AS max_s,
             |  CAST(((max(CASE WHEN rn = (95 * n + 99) // 100 THEN lat_s END) + 9) // 10)
             |    * 10 AS BIGINT) AS watermark_s
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DSIR-STYLE IMPORTANCE SCORING (x107) — data selection with importance
    // resampling (Xie et al. 2023): score every document by how much its
    // hashed n-gram profile looks like a TARGET domain (here sources
    // src0–src3) versus the rest. The published method weights by
    // Σ log p_t/p_s over hashed n-gram buckets; this keeps the same
    // bucketed-distribution machinery but scores with the integer-exact
    // linear discriminant Σ_b n_doc[b]·(ppm_t[b] − ppm_s[b]) (Laplace
    // +1-smoothed, ppm-quantized) so the gate is float-free — no
    // cross-engine log/exp parity risk. Buckets come from the first 8 md5
    // hex chars mod 64, the catalog's standard portable hash. Scale: the
    // corpus is exploded and hashed ONCE — the per-(doc, bucket) rollup
    // partial-combines map-side to ≤ |docs|×64 rows and localCheckpoint-
    // truncates, because BOTH the distribution table and the scoring pass
    // consume it (an un-cached two-consumer bigram stream re-hashed the
    // whole corpus twice — the x112 trap, measured 8.3 s vs 4.7 s at 10×,
    // plan-pinned single scan below); the 64-row distribution broadcasts
    // back. This is exactly the shape DSIR runs at dataset scale — the
    // distribution fits one machine, the scoring pass is embarrassingly
    // parallel.
    QueryDef(
      "x107_dsir_importance",
      (s, d) => {
        val nb = documents(s, d)
          .select(col("doc_id"), col("source"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"), col("source"),
            explode(expr("transform(sequence(1, size(tk) - 1), " +
              "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))")).as("bg"))
          .withColumn("b",
            expr("CAST(conv(substring(md5(bg), 1, 8), 16, 10) AS BIGINT) % 64"))
          .withColumn("tgt", col("source").isin("src0", "src1", "src2", "src3"))
          .groupBy("doc_id", "b", "tgt").agg(count(lit(1)).as("nb"))
          .localCheckpoint(true)
        val dist = nb.groupBy("b")
          .agg(sum(when(col("tgt"), col("nb")).otherwise(0L)).as("ct"),
            sum(when(!col("tgt"), col("nb")).otherwise(0L)).as("cs"))
        val ratio = dist
          .crossJoin(broadcast(dist.agg(sum("ct").as("tt"), sum("cs").as("ts2"))))
          .select(col("b"), expr("(ct + 1) * 1000000 div (tt + 64) AS ppm_t"),
            expr("(cs + 1) * 1000000 div (ts2 + 64) AS ppm_s"))
        nb.join(broadcast(ratio), Seq("b"))
          .groupBy("doc_id")
          .agg(sum(col("nb")).cast(LongType).as("n_bigrams"),
            sum(col("nb") * (col("ppm_t") - col("ppm_s"))).cast(LongType).as("score"))
          .orderBy("doc_id")
      },
      Some {
        val hex8 = (0 until 8).map(k =>
          s"(instr('0123456789abcdef', substr(md5(bg), ${k + 1}, 1)) - 1) * " +
            s"${1L << (4 * (7 - k))}").mkString("(", " + ", ")")
        s"""WITH toks AS (SELECT doc_id, source, $tokensSql AS tk FROM documents),
           |bgr AS (SELECT doc_id, source IN ('src0', 'src1', 'src2', 'src3') AS tgt,
           |  unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
           |  FROM toks WHERE len(tk) >= 2),
           |wb AS (SELECT doc_id, tgt, $hex8 % 64 AS b FROM bgr),
           |dist AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
           |  sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cs FROM wb GROUP BY 1),
           |tot AS (SELECT sum(ct) AS tt, sum(cs) AS ts2 FROM dist),
           |ratio AS (SELECT b, (ct + 1) * 1000000 // (tt + 64) AS ppm_t,
           |  (cs + 1) * 1000000 // (ts2 + 64) AS ppm_s FROM dist CROSS JOIN tot),
           |pd AS (SELECT doc_id, b, count(*) AS nb FROM wb GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n_bigrams,
           |  CAST(sum(nb * (ppm_t - ppm_s)) AS BIGINT) AS score
           |FROM pd JOIN ratio USING (b) GROUP BY 1 ORDER BY doc_id""".stripMargin
      }),

    // DEGREE ASSORTATIVITY (x108) — graph-structure profiling of the
    // customer–supplier interaction graph (distinct trade pairs via
    // orders ⋈ lineitem): do high-degree customers trade with high-degree
    // suppliers? Assortativity is the Pearson correlation of endpoint
    // degrees over edges — THE standard structural health metric before
    // graph training runs (GNN sampling strategies and partitioners both
    // care). Every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT over
    // integer degrees; the single final double expression (sub, mul, div,
    // sqrt — each IEEE-correctly-rounded on identical integer inputs) is
    // bit-identical across engines, then 6 dp round + signed-zero
    // normalize. Scale: the edge list is the SESSION-SHARED
    // [[custSuppEdges]] checkpoint (one orderkey join + distinct per
    // session, fanned out to x108 and the whole CF family) — its THREE
    // consumers here (both degree aggs + the final map-back) read that one
    // materialization, never re-running the corpus join (plan-pinned; the
    // un-cached three-consumer variant measured 5.6 s at 10× vs 2.9 s
    // fixed, and the per-query re-derivation cost another ~1.3 s on top);
    // the node-sized degree tables broadcast back onto edges; the moment
    // rollup is one partial-combined single-row agg.
    QueryDef(
      "x108_degree_assortativity",
      (s, d) => {
        // the session-shared edge checkpoint ([[custSuppEdges]]) — x108 no
        // longer pays its own orderkey join; warm consumers read the one
        // materialization the CF family also descends from
        val edges = custSuppEdges(s, d)
        val degC = edges.groupBy("c").agg(count(lit(1)).as("dc"))
        val degS = edges.groupBy("sp").agg(count(lit(1)).as("dsp"))
        edges.join(broadcast(degC), Seq("c")).join(broadcast(degS), Seq("sp"))
          .agg(
            expr("CAST(count(*) AS BIGINT) AS n"),
            expr("CAST(count(DISTINCT c) AS BIGINT) AS n_cust"),
            expr("CAST(count(DISTINCT sp) AS BIGINT) AS n_supp"),
            expr("CAST(max(dc) AS BIGINT) AS max_cust_deg"),
            expr("CAST(max(dsp) AS BIGINT) AS max_supp_deg"),
            expr("sum(dc) AS sx"), expr("sum(dsp) AS sy"),
            expr("sum(dc * dsp) AS sxy"), expr("sum(dc * dc) AS sxx"),
            expr("sum(dsp * dsp) AS syy"))
          .select(col("n").as("n_edges"), col("n_cust"), col("n_supp"),
            col("max_cust_deg"), col("max_supp_deg"),
            expr("CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0 " +
              "ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) / " +
              "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
              "CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 END").as("assortativity"))
      },
      Some("""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |dc AS (SELECT c, CAST(count(*) AS BIGINT) AS dc FROM e GROUP BY 1),
             |dsp AS (SELECT sp, CAST(count(*) AS BIGINT) AS dsp FROM e GROUP BY 1),
             |j AS (SELECT e.c, e.sp, dc.dc, dsp.dsp
             |  FROM e JOIN dc USING (c) JOIN dsp USING (sp)),
             |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT c) AS BIGINT) AS n_cust,
             |  CAST(count(DISTINCT sp) AS BIGINT) AS n_supp,
             |  CAST(max(dc) AS BIGINT) AS max_cust_deg,
             |  CAST(max(dsp) AS BIGINT) AS max_supp_deg,
             |  CAST(sum(dc) AS BIGINT) AS sx, CAST(sum(dsp) AS BIGINT) AS sy,
             |  CAST(sum(dc * dsp) AS BIGINT) AS sxy,
             |  CAST(sum(dc * dc) AS BIGINT) AS sxx,
             |  CAST(sum(dsp * dsp) AS BIGINT) AS syy FROM j)
             |SELECT n AS n_edges, n_cust, n_supp, max_cust_deg, max_supp_deg,
             |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
             |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
             |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
             |        CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 END AS assortativity
             |FROM sums""".stripMargin)),

    // BLOCKED RECORD LINKAGE (x109) — entity resolution against a canonical
    // dictionary: deterministically corrupted part names (one substitution,
    // deletion, or duplicated character, cycling by key) must link back to
    // the canonical name table under Levenshtein distance with best-match
    // semantics (min distance, lexicographic tie-break) and an ambiguity
    // count. This is the dictionary-repair shape real pipelines run on
    // scraped product/entity strings. x59's symmetric-delete join answers
    // "same key up to one edit" via delete-variants; this is the general
    // DP-Levenshtein linkage with BLOCKING: candidates must share the
    // first token AND the second word's first character (the corruption
    // site is always deeper than that) AND a ±1 length band — so the
    // quadratic dictionary×corpus product never materializes. Levenshtein
    // is integer-exact and identical in both engines. Scale: the canonical
    // dictionary is vocab-sized (broadcast); queries stream map-side
    // through the blocked join; best-match agg and its min-dist join ride
    // ONE qid exchange.
    QueryDef(
      "x109_record_linkage",
      (s, d) => {
        val canon = part(s, d).select(col("p_name").as("cname")).distinct()
          .withColumn("w1", substring_index(col("cname"), " ", 1))
          .withColumn("c2", expr("substr(cname, instr(cname, ' ') + 1, 1)"))
        val queries = part(s, d).filter(col("p_partkey") % 5 < 2)
          .withColumn("q", expr("instr(p_name, ' ') + 2 + CAST(p_partkey % 2 AS INT)"))
          .withColumn("qname", expr("CASE CAST(p_partkey % 3 AS INT) " +
            "WHEN 0 THEN concat(substr(p_name, 1, q - 1), '#', substr(p_name, q + 1)) " +
            "WHEN 1 THEN concat(substr(p_name, 1, q - 1), substr(p_name, q + 1)) " +
            "ELSE concat(substr(p_name, 1, q), substr(p_name, q, 1), " +
            "substr(p_name, q + 1)) END"))
          .select(col("p_partkey").as("qid"), col("qname"))
          .withColumn("w1", substring_index(col("qname"), " ", 1))
          .withColumn("c2", expr("substr(qname, instr(qname, ' ') + 1, 1)"))
        val cand = queries.join(broadcast(canon), Seq("w1", "c2"))
          .filter(abs(length(col("qname")) - length(col("cname"))) <= 1)
          .withColumn("dist", expr("levenshtein(qname, cname)"))
          .filter(col("dist") <= 2)
        val best = cand.groupBy("qid").agg(min("dist").as("mind"))
        cand.as("ca").join(best.as("be"),
            col("ca.qid") === col("be.qid") && col("ca.dist") === col("be.mind"))
          .groupBy(col("ca.qid").as("qid"), col("ca.qname").as("qname"))
          .agg(min(col("ca.cname")).as("matched"),
            min(col("ca.dist")).cast(LongType).as("dist"),
            count(lit(1)).cast(LongType).as("n_candidates"))
          .orderBy("qid")
      },
      Some("""WITH c AS (SELECT cname, split_part(cname, ' ', 1) AS w1,
             |  substr(cname, instr(cname, ' ') + 1, 1) AS c2
             |  FROM (SELECT DISTINCT p_name AS cname FROM part)),
             |q0 AS (SELECT p_partkey AS qid, p_name,
             |  instr(p_name, ' ') + 2 + p_partkey % 2 AS q, p_partkey % 3 AS typ
             |  FROM part WHERE p_partkey % 5 < 2),
             |q1 AS (SELECT qid, CASE typ
             |  WHEN 0 THEN substr(p_name, 1, CAST(q - 1 AS INT)) || '#' ||
             |    substr(p_name, CAST(q + 1 AS INT))
             |  WHEN 1 THEN substr(p_name, 1, CAST(q - 1 AS INT)) ||
             |    substr(p_name, CAST(q + 1 AS INT))
             |  ELSE substr(p_name, 1, CAST(q AS INT)) ||
             |    substr(p_name, CAST(q AS INT), 1) || substr(p_name, CAST(q + 1 AS INT))
             |  END AS qname FROM q0),
             |q2 AS (SELECT qid, qname, split_part(qname, ' ', 1) AS w1,
             |  substr(qname, instr(qname, ' ') + 1, 1) AS c2 FROM q1),
             |cand AS (SELECT qid, qname, cname, levenshtein(qname, cname) AS dist
             |  FROM q2 JOIN c USING (w1, c2)
             |  WHERE abs(length(qname) - length(cname)) <= 1
             |    AND levenshtein(qname, cname) <= 2),
             |b AS (SELECT qid, min(dist) AS mind FROM cand GROUP BY 1)
             |SELECT cand.qid AS qid, qname, min(cname) AS matched,
             |  CAST(min(dist) AS BIGINT) AS dist,
             |  CAST(count(*) AS BIGINT) AS n_candidates
             |FROM cand JOIN b ON cand.qid = b.qid AND cand.dist = b.mind
             |GROUP BY 1, 2 ORDER BY qid""".stripMargin)),

    // L-DIVERSITY AUDIT (x110) — the privacy gate x84's k-anonymity cannot
    // close: a QI group can be large (k-anonymous) yet expose everyone in
    // it because all members share ONE sensitive value. l-diversity counts
    // DISTINCT sensitive values per QI group (Machanavajjhala et al.);
    // this reports the l histogram over the (nation, segment) QI space
    // with the sensitive attribute as the coarse account-balance bucket —
    // the same QI/sensitive split x84 generalizes over, so the two audits
    // read as one governance report. All-integer (bucket = floor of one
    // IEEE division, identical both engines; everything after is counts).
    // Scale: ONE (qi) hash agg with map-side partial distinct, then an
    // l-bounded rollup — group count is bounded by |QI space|, never rows;
    // no join.
    QueryDef(
      "x110_l_diversity",
      (s, d) => {
        customer(s, d).selectExpr(
          "concat_ws('|', c_nationkey, c_mktsegment) AS qi",
          "CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sens")
          .groupBy("qi")
          .agg(countDistinct(col("sens")).as("l"), count(lit(1)).as("sz"))
          .groupBy(col("l").cast(LongType).as("l"))
          .agg(count(lit(1)).cast(LongType).as("n_groups"),
            sum(col("sz")).cast(LongType).as("n_rows"))
          .withColumn("is_violating", col("l") < 3)
          .orderBy("l")
      },
      Some("""WITH g AS (SELECT c_nationkey::VARCHAR || '|' || c_mktsegment AS qi,
             |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS l,
             |  count(*) AS sz FROM customer GROUP BY 1)
             |SELECT CAST(l AS BIGINT) AS l, CAST(count(*) AS BIGINT) AS n_groups,
             |  CAST(sum(sz) AS BIGINT) AS n_rows, l < 3 AS is_violating
             |FROM g GROUP BY l ORDER BY l""".stripMargin)),

    // MP4 / ISO-BMFF METADATA (x111) — the video leg of the multimodal
    // family: graft.ops.Mp4Meta walks the box structure for real (pure
    // big-endian byte arithmetic, no codec) — ftyp major brand, moov→mvhd
    // timescale/duration in BOTH version-0 (32-bit) and version-1 (64-bit
    // time fields) layouts, mdat payload size including the size==1 64-bit
    // largesize escape (the >4 GiB form), and a malformed tail (box size
    // < 8) flags the row invalid while KEEPING the fields parsed before
    // the damage. Blobs are built byte-identically in SQL from shared
    // formulas — doc_id mod 4 cycles v0 / v1 / largesize / corrupt-tail —
    // and the oracle predicts every output arithmetically, so builder and
    // walker cross-check through the byte encoding. Narrow per-row map;
    // zero shuffle before the final ORDER BY.
    QueryDef(
      "x111_mp4_meta",
      (s, d) => {
        val ftyp = "concat('00000010', '66747970', " +
          "CASE WHEN doc_id % 2 = 0 THEN '69736F6D' ELSE '6D703432' END, '00000000')"
        val mvhdV0 = s"concat('0000006C', '6D766864', '00000000', '00000000', " +
          s"'00000000', ${be32S("tsc")}, ${be32S("dur")}, repeat('00', 80))"
        val mvhdV1 = s"concat('00000078', '6D766864', '01000000', repeat('00', 16), " +
          s"${be32S("tsc")}, '00000000', ${be32S("dur")}, repeat('00', 80))"
        val moov = s"CASE WHEN doc_id % 4 = 1 " +
          s"THEN concat('00000080', '6D6F6F76', $mvhdV1) " +
          s"ELSE concat('00000074', '6D6F6F76', $mvhdV0) END"
        val mdat = s"CASE CAST(doc_id % 4 AS INT) " +
          s"WHEN 2 THEN concat('00000001', '6D646174', '00000000', " +
          s"${be32S("16 + m")}, repeat('41', m)) " +
          "WHEN 3 THEN '0000000466726565' " +
          s"ELSE concat(${be32S("8 + m")}, '6D646174', repeat('41', m)) END"
        val blobs = documents(s, d).filter(col("doc_id") < 16)
          .withColumn("tsc", expr(
            "CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 600 WHEN 1 THEN 1000 " +
              "ELSE 90000 END AS BIGINT)"))
          .withColumn("dur", expr("1000 + doc_id * 777"))
          .withColumn("m", expr("1 + (doc_id * 11) % 200"))
          .select(col("doc_id").as("media_id"),
            unhex(expr(s"concat($ftyp, $moov, $mdat)")).as("media"))
        graft.ops.Mp4Meta.meta(blobs)
          .select(col("media_id"), col("brand"), col("timescale"), col("duration"),
            col("duration_ms"), col("n_top_boxes"), col("mdat_bytes"), col("valid"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
             |    ELSE 90000 END AS BIGINT) AS timescale,
             |  CAST(1000 + doc_id * 777 AS BIGINT) AS duration,
             |  CAST((1000 + doc_id * 777) * 1000 //
             |    CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END
             |    AS BIGINT) AS duration_ms,
             |  CAST(CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 3 END AS BIGINT) AS n_top_boxes,
             |  CAST(CASE WHEN doc_id % 4 = 3 THEN 0
             |    ELSE 1 + (doc_id * 11) % 200 END AS BIGINT) AS mdat_bytes,
             |  doc_id % 4 <> 3 AS valid
             |FROM documents WHERE doc_id < 16 ORDER BY media_id""".stripMargin)),

    // EVENT TRANSITION MATRIX (x112) — first-order Markov profile of user
    // behavior: for consecutive events of the same user (event-time order,
    // event_id tie-break), count from→to transitions and their per-source
    // probability in integer ppm. The |types|²-bounded matrix is what
    // session-simulation, anomaly baselines (x93 scores volumes; this
    // scores STRUCTURE), and funnel design (q43) all consume. Exact: counts
    // and one integer ppm division. Scale: ONE user_id window exchange
    // builds the pairs; the transition rollup partial-combines into a
    // |types|²-bounded frame; per-source totals are a WINDOW over that tiny
    // frame — a totals self-join would re-run the corpus pass twice (the
    // un-cached two-consumer trap), the window re-exchanges ≤|types|² rows.
    QueryDef(
      "x112_event_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("tn", sum(col("n")).over(Window.partitionBy("from_type")))
          .select(col("from_type"), col("to_type"), col("n").cast(LongType).as("n"),
            expr("CAST(n * 1000000 div tn AS BIGINT) AS p_ppm"))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH o AS (SELECT event_type, lead(event_type) OVER
             |  (PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events),
             |c AS (SELECT event_type AS from_type, next_type AS to_type,
             |  CAST(count(*) AS BIGINT) AS n FROM o
             |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n, CAST(n * 1000000 //
             |  sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // ZIP EXTRACTION (x113) — the third container family (TAR x105,
    // ISO-BMFF x111) and the first with a COMPRESSED payload path:
    // graft.ops.ZipExtract walks EOCD → central directory → local headers
    // and inflates method-8 members with the JDK Inflater (nowrap), then
    // verifies CRC-32 of the inflated bytes against the stored value. The
    // gate builds archives in Spark SQL: member 0 stored, member 1 a raw
    // stored-block DEFLATE stream (x36's trick — 01 + LEN + ~LEN + data),
    // with the stored CRC computed by Spark's builtin crc32() — so a green
    // crc_ok row proves the SQL-built blob, the JDK's CRC32, and the
    // decoder's walk all agree on the same bytes, and the inflate path is
    // exercised end to end. Shards with doc_id % 4 = 2 store crc+1 on the
    // deflated member: the decoder must flag it (crc_ok = false) but still
    // return the extracted content — one damaged member costs its flag,
    // never the archive. The oracle predicts every field arithmetically.
    // Narrow per-row flatMap; zero shuffle before the final ORDER BY.
    QueryDef(
      "x113_zip_extract",
      (s, d) => {
        def member(i: Int): (String, String) = {
          val k = s"(1 + (doc_id * 3 + $i) % 20)"
          val ext = if (i == 0) ".txt" else ".bin"
          val content = s"concat('data-', CAST(doc_id AS STRING), '-', '$i', " +
            s"repeat('x', $k))"
          val name = s"concat('f', CAST(doc_id AS STRING), '_', '$i', '$ext')"
          (content, name)
        }
        val (c0, n0) = member(0)
        val (c1, n1) = member(1)
        val u0 = "(8 + (1 + (doc_id * 3) % 20))"
        val u1 = "(8 + (1 + (doc_id * 3 + 1) % 20))"
        val crc0 = s"crc32(CAST($c0 AS BINARY))"
        // deliberately wrong stored crc on member 1 of every 4th shard
        val scrc1 = s"((crc32(CAST($c1 AS BINARY)) + " +
          "CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END) % 4294967296)"
        val csz1 = s"(5 + $u1)" // stored-block deflate: 01 + LEN + ~LEN + data
        val lfh0 = s"concat('504B0304', ${le16S("20")}, '0000', ${le16S("0")}, " +
          s"'00000000', ${le32S(crc0)}, ${le32S(u0)}, ${le32S(u0)}, " +
          s"${le16S("8")}, '0000', hex($n0), hex($c0))"
        val lfh1 = s"concat('504B0304', ${le16S("20")}, '0000', ${le16S("8")}, " +
          s"'00000000', ${le32S(scrc1)}, ${le32S(csz1)}, ${le32S(u1)}, " +
          s"${le16S("8")}, '0000', hex($n1), " +
          s"'01', ${le16S(u1)}, ${le16S(s"65535 - $u1")}, hex($c1))"
        def cdEntry(crc: String, csz: String, usz: String, mth: String,
            nm: String, off: String): String =
          s"concat('504B0102', ${le16S("20")}, ${le16S("20")}, '0000', " +
            s"${le16S(mth)}, '00000000', ${le32S(crc)}, ${le32S(csz)}, " +
            s"${le32S(usz)}, ${le16S("8")}, '0000', '0000', '0000', '0000', " +
            s"'00000000', ${le32S(off)}, hex($nm))"
        val cd0 = cdEntry(crc0, u0, u0, "0", n0, "0")
        val cd1 = cdEntry(scrc1, csz1, u1, "8", n1, s"(38 + $u0)")
        val eocd = s"concat('504B0506', '0000', '0000', ${le16S("2")}, " +
          s"${le16S("2")}, ${le32S("108")}, ${le32S(s"(81 + $u0 + $u1)")}, '0000')"
        val blobs = documents(s, d).filter(col("doc_id") < 10)
          .select(col("doc_id").as("media_id"),
            unhex(expr(s"concat($lfh0, $lfh1, $cd0, $cd1, $eocd)")).as("media"))
        graft.ops.ZipExtract.extract(blobs)
          .select(col("shard_id"), col("name"), col("method"), col("usize"),
            col("content"), col("crc_ok"))
          .orderBy("shard_id", "name")
      },
      Some("""WITH m AS (SELECT doc_id, i FROM documents
             |  CROSS JOIN (SELECT unnest(range(0, 2)) AS i) WHERE doc_id < 10),
             |b AS (SELECT doc_id, i, 1 + (doc_id * 3 + i) % 20 AS k FROM m)
             |SELECT doc_id AS shard_id,
             |  'f' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) ||
             |    CASE WHEN i = 0 THEN '.txt' ELSE '.bin' END AS name,
             |  CAST(CASE WHEN i = 0 THEN 0 ELSE 8 END AS BIGINT) AS method,
             |  CAST(8 + k AS BIGINT) AS usize,
             |  'data-' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) ||
             |    repeat('x', CAST(k AS INT)) AS content,
             |  NOT (doc_id % 4 = 2 AND i = 1) AS crc_ok
             |FROM b ORDER BY shard_id, name""".stripMargin)),

    // ITEM-ITEM COLLABORATIVE-FILTERING SIMILARITY (x114) — recommender
    // prep over the customer–supplier trade graph: suppliers co-traded by
    // the same customers get cosine similarity co/√(deg₁·deg₂) (the
    // classic item-item CF statistic, Sarwar et al. 2001). The pair stage
    // is the textbook scale hazard — a power-law customer co-trades
    // quadratically — so customers above a degree cap (30) are EXCLUDED
    // from pair generation, the standard CF mitigation (they carry almost
    // no signal per pair anyway); degrees are computed on the same capped
    // edge set so cosine stays ≤ 1. Exact: co/deg are BIGINTs; the one
    // double expression (div + sqrt on identical integers) is bit-identical
    // both engines, + 6 dp round + signed-zero normalize; top-50 under a
    // TOTAL order (cosine desc, s1, s2) is deterministic. The capped edge
    // and co-pair frames are SESSION-SHARED checkpoints ([[cfCappedEdges]]/
    // [[cfCoPairs]], the lshPairs pattern) — x115's clustering
    // coefficients ride the same graph, and every consumer reads ONE
    // materialization of the corpus join (x112's lesson, pinned). Scale:
    // self-join keyed on customer is bounded by cap²/2 per customer; pair
    // rollup partial-combines into a ≤|suppliers|² frame; degree table
    // broadcasts.
    QueryDef(
      "x114_item_cf",
      (s, d) => {
        val capped = cfCappedEdges(s, d)
        val deg = capped.groupBy("sp").agg(count(lit(1)).as("deg"))
        cfCoPairs(s, d)
          .join(broadcast(deg.select(col("sp").as("s1"), col("deg").as("d1"))), Seq("s1"))
          .join(broadcast(deg.select(col("sp").as("s2"), col("deg").as("d2"))), Seq("s2"))
          .select(col("s1").cast(LongType).as("s1"), col("s2").cast(LongType).as("s2"),
            col("co").cast(LongType).as("co_count"),
            expr("round(CAST(co AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) * " +
              "CAST(d2 AS DOUBLE)), 6) + 0.0").as("cosine"))
          .orderBy(col("cosine").desc, col("s1"), col("s2"))
          .limit(50)
      },
      Some("""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |cdg AS (SELECT c, count(*) AS cdeg FROM e GROUP BY 1),
             |capped AS (SELECT e.c, e.sp FROM e JOIN cdg USING (c) WHERE cdeg <= 30),
             |deg AS (SELECT sp, CAST(count(*) AS BIGINT) AS deg FROM capped GROUP BY 1),
             |p0 AS (SELECT a.sp AS s1, b.sp AS s2, CAST(count(*) AS BIGINT) AS co
             |  FROM capped a JOIN capped b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
             |sym AS (SELECT s1 AS u, s2 AS v, co FROM p0
             |  UNION ALL SELECT s2, s1, co FROM p0),
             |kn AS (SELECT u, v, co FROM (SELECT u, v, co,
             |  row_number() OVER (PARTITION BY u ORDER BY co DESC, v) AS rn FROM sym)
             |  WHERE rn <= 10),
             |p AS (SELECT DISTINCT least(u, v) AS s1, greatest(u, v) AS s2, co FROM kn)
             |SELECT CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
             |  co AS co_count,
             |  round(CAST(co AS DOUBLE) / sqrt(CAST(d1.deg AS DOUBLE) *
             |    CAST(d2.deg AS DOUBLE)), 6) + 0.0 AS cosine
             |FROM p JOIN deg d1 ON p.s1 = d1.sp JOIN deg d2 ON p.s2 = d2.sp
             |ORDER BY cosine DESC, s1, s2 LIMIT 50""".stripMargin)),

    // LOCAL CLUSTERING COEFFICIENTS (x115) — node-level transitivity on the
    // supplier co-trade graph x114 built: cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)),
    // the per-node companion to q48's global triangle counts and the
    // second standard structural-health signal for GNN prep (high-cc
    // regions oversample under naive neighbor sampling). Rides the
    // session-shared co-pair frame ([[cfCoPairs]] — ONE materialization of
    // the corpus join serves x114 and this). Triangles enumerate
    // compact-forward on the canonically-oriented (s1<s2) entity-sized
    // edge list, exactly q48's shape; cc is integer ppm (2·tri·10⁶ div
    // deg(deg−1)) — no float anywhere. Output is |suppliers|-bounded.
    QueryDef(
      "x115_clustering_coeff",
      (s, d) => {
        val e = cfCoPairs(s, d).select("s1", "s2")
        val deg = e.select(col("s1").as("sp"))
          .unionAll(e.select(col("s2").as("sp")))
          .groupBy("sp").agg(count(lit(1)).as("deg"))
        val tris = e.as("a")
          .join(e.select(col("s1").as("m"), col("s2").as("z")).as("b"),
            col("a.s2") === col("b.m"))
          .join(e.select(col("s1").as("x2"), col("s2").as("z2")).as("c"),
            col("a.s1") === col("x2") && col("z") === col("z2"))
          .select(col("a.s1").as("x"), col("a.s2").as("y"), col("z"))
          .localCheckpoint(true) // three member projections read one frame
        val tn = tris.select(col("x").as("sp"))
          .unionAll(tris.select(col("y").as("sp")))
          .unionAll(tris.select(col("z").as("sp")))
          .groupBy("sp").agg(count(lit(1)).as("n_tri"))
        deg.join(tn, Seq("sp"), "left")
          .select(col("sp").cast(LongType).as("sp"),
            col("deg").cast(LongType).as("deg"),
            coalesce(col("n_tri"), lit(0L)).cast(LongType).as("n_tri"),
            expr("CAST(CASE WHEN deg >= 2 THEN coalesce(n_tri, 0) * 2000000 " +
              "div (deg * (deg - 1)) ELSE 0 END AS BIGINT)").as("cc_ppm"))
          .orderBy("sp")
      },
      Some("""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |cdg AS (SELECT c, count(*) AS cdeg FROM e GROUP BY 1),
             |capped AS (SELECT e.c, e.sp FROM e JOIN cdg USING (c) WHERE cdeg <= 30),
             |p0 AS (SELECT a.sp AS s1, b.sp AS s2, CAST(count(*) AS BIGINT) AS co
             |  FROM capped a JOIN capped b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
             |sym AS (SELECT s1 AS u, s2 AS v, co FROM p0
             |  UNION ALL SELECT s2, s1, co FROM p0),
             |kn AS (SELECT u, v FROM (SELECT u, v,
             |  row_number() OVER (PARTITION BY u ORDER BY co DESC, v) AS rn FROM sym)
             |  WHERE rn <= 10),
             |p AS (SELECT DISTINCT least(u, v) AS s1, greatest(u, v) AS s2 FROM kn),
             |deg AS (SELECT sp, CAST(count(*) AS BIGINT) AS deg FROM
             |  (SELECT s1 AS sp FROM p UNION ALL SELECT s2 FROM p) GROUP BY 1),
             |tri AS (SELECT a.s1 AS x, a.s2 AS y, b.s2 AS z FROM p a
             |  JOIN p b ON b.s1 = a.s2 JOIN p c ON c.s1 = a.s1 AND c.s2 = b.s2),
             |tn AS (SELECT sp, CAST(count(*) AS BIGINT) AS n_tri FROM
             |  (SELECT x AS sp FROM tri UNION ALL SELECT y FROM tri
             |   UNION ALL SELECT z FROM tri) GROUP BY 1)
             |SELECT CAST(deg.sp AS BIGINT) AS sp, deg,
             |  coalesce(n_tri, 0) AS n_tri,
             |  CAST(CASE WHEN deg >= 2 THEN coalesce(n_tri, 0) * 2000000
             |    // (deg * (deg - 1)) ELSE 0 END AS BIGINT) AS cc_ppm
             |FROM deg LEFT JOIN tn ON deg.sp = tn.sp ORDER BY sp""".stripMargin)),

    // URL CANONICALIZATION (x116) — the crawl-side normalizer x66's domain
    // analytics presuppose: scraped URLs vary in scheme/host case, default
    // ports, duplicate path slashes, tracking parameters, parameter order,
    // and fragments, and a dedup/frontier keyed on the RAW string
    // re-crawls the same resource. Canonical form: lowercase scheme+host,
    // drop :443, collapse path slash runs, strip utm_* params, sort the
    // rest, strip the fragment. The gate builds TWO deterministic variants
    // per doc — a messy one (case noise, port, slash run, shuffled params
    // with trackers, fragment) and a clean one — and proves the transform
    // collapses them (variants_agree). Dialect discipline: no regex
    // capture replacement (Spark $1 vs DuckDB \1 — avoided entirely);
    // split/filter/sort/join array ops and capture-free regexes only.
    // Narrow per-row expressions, zero shuffle before the ORDER BY.
    QueryDef(
      "x116_url_canonicalize",
      (s, d) => {
        val messy = "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END, " +
          "'://', 'WWW.', source, '.Example.ORG', " +
          "CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END, " +
          "'/docs', CASE WHEN doc_id % 4 = 0 THEN '//' ELSE '/' END, " +
          "'d-', CAST(doc_id AS STRING), " +
          "CASE WHEN doc_id % 2 = 0 " +
          "THEN concat('?page=', CAST(doc_id % 7 AS STRING), " +
          "'&utm_source=feed&ref=', upper(source), '&utm_campaign=x') " +
          "ELSE concat('?ref=', upper(source), '&utm_campaign=x&page=', " +
          "CAST(doc_id % 7 AS STRING), '&utm_source=feed') END, " +
          "CASE WHEN doc_id % 5 = 0 THEN '#sec1' ELSE '' END)"
        val clean = "concat('https://www.', source, '.example.org/docs/d-', " +
          "CAST(doc_id AS STRING), '?page=', CAST(doc_id % 7 AS STRING), " +
          "'&ref=', upper(source))"
        // one canonicalization step chain per source column, suffixed so the
        // messy and clean variants ride the same narrow projection
        def canonCols(df: DataFrame, src: String, out: String): DataFrame = df
          .withColumn(s"nf_$out", expr(s"regexp_replace($src, '#.*', '')"))
          .withColumn(s"pre_$out",
            expr(s"regexp_extract(nf_$out, '^[^/]*//[^/?]*', 0)"))
          .withColumn(s"rest_$out",
            expr(s"substring(nf_$out, length(pre_$out) + 1)"))
          .withColumn(s"cq_$out", expr(
            s"array_join(array_sort(filter(split(CASE WHEN instr(rest_$out, '?') > 0 " +
              s"THEN substring(rest_$out, instr(rest_$out, '?') + 1) ELSE '' END, " +
              s"'&'), p -> NOT startswith(p, 'utm_'))), '&')"))
          .withColumn(out, expr(
            s"concat(replace(lower(pre_$out), ':443', ''), " +
              s"regexp_replace(CASE WHEN instr(rest_$out, '?') > 0 " +
              s"THEN substring(rest_$out, 1, instr(rest_$out, '?') - 1) " +
              s"ELSE rest_$out END, '//+', '/'), " +
              s"CASE WHEN cq_$out = '' THEN '' ELSE concat('?', cq_$out) END)"))
        val base = documents(s, d).filter(col("doc_id") < 400)
          .withColumn("url", expr(messy))
          .withColumn("cl", expr(clean))
        canonCols(canonCols(base, "url", "canon_url"), "cl", "canon_clean")
          .select(col("doc_id"), col("url"), col("canon_url"),
            (col("canon_url") === col("canon_clean")).as("variants_agree"),
            (col("canon_url") =!= col("url")).as("changed"))
          .orderBy("doc_id")
      },
      Some {
        val messy = """(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END ||
          |'://WWW.' || source || '.Example.ORG' ||
          |CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
          |'/docs' || CASE WHEN doc_id % 4 = 0 THEN '//' ELSE '/' END ||
          |'d-' || CAST(doc_id AS VARCHAR) ||
          |CASE WHEN doc_id % 2 = 0
          |THEN '?page=' || CAST(doc_id % 7 AS VARCHAR) ||
          |  '&utm_source=feed&ref=' || upper(source) || '&utm_campaign=x'
          |ELSE '?ref=' || upper(source) || '&utm_campaign=x&page=' ||
          |  CAST(doc_id % 7 AS VARCHAR) || '&utm_source=feed' END ||
          |CASE WHEN doc_id % 5 = 0 THEN '#sec1' ELSE '' END)""".stripMargin
        val clean = """('https://www.' || source || '.example.org/docs/d-' ||
          |CAST(doc_id AS VARCHAR) || '?page=' || CAST(doc_id % 7 AS VARCHAR) ||
          |'&ref=' || upper(source))""".stripMargin
        s"""WITH b AS (SELECT doc_id, $messy AS url, $clean AS cl FROM documents
           |  WHERE doc_id < 400),
           |c1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nf,
           |  regexp_replace(cl, '#.*', '') AS nf2 FROM b),
           |c2 AS (SELECT *, regexp_extract(nf, '^[^/]*//[^/?]*') AS pre,
           |  regexp_extract(nf2, '^[^/]*//[^/?]*') AS pre2 FROM c1),
           |c3 AS (SELECT *, substr(nf, CAST(length(pre) + 1 AS INT)) AS rest,
           |  substr(nf2, CAST(length(pre2) + 1 AS INT)) AS rest2 FROM c2),
           |c4 AS (SELECT *,
           |  array_to_string(list_sort(list_filter(str_split(
           |    CASE WHEN instr(rest, '?') > 0
           |      THEN substr(rest, CAST(instr(rest, '?') + 1 AS INT)) ELSE '' END, '&'),
           |    p -> NOT starts_with(p, 'utm_'))), '&') AS cq,
           |  array_to_string(list_sort(list_filter(str_split(
           |    CASE WHEN instr(rest2, '?') > 0
           |      THEN substr(rest2, CAST(instr(rest2, '?') + 1 AS INT)) ELSE '' END, '&'),
           |    p -> NOT starts_with(p, 'utm_'))), '&') AS cq2 FROM c3),
           |c5 AS (SELECT doc_id, url,
           |  replace(lower(pre), ':443', '') ||
           |  regexp_replace(CASE WHEN instr(rest, '?') > 0
           |    THEN substr(rest, 1, CAST(instr(rest, '?') - 1 AS INT)) ELSE rest END,
           |    '//+', '/', 'g') ||
           |  CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon_url,
           |  replace(lower(pre2), ':443', '') ||
           |  regexp_replace(CASE WHEN instr(rest2, '?') > 0
           |    THEN substr(rest2, 1, CAST(instr(rest2, '?') - 1 AS INT)) ELSE rest2 END,
           |    '//+', '/', 'g') ||
           |  CASE WHEN cq2 = '' THEN '' ELSE '?' || cq2 END AS canon_clean FROM c4)
           |SELECT doc_id, url, canon_url,
           |  (canon_url = canon_clean) AS variants_agree,
           |  (canon_url <> url) AS changed
           |FROM c5 ORDER BY doc_id""".stripMargin
      }),

    // WARC RECORD INDEXING (x117) — the container of web-scale text
    // corpora: Common Crawl ships WARC, and stage one of every web-text
    // pipeline is walking records (version line, CRLF headers, a
    // Content-Length-driven payload, CRLFCRLF terminator).
    // graft.ops.WarcIndex does the walk for real, with the terminator
    // VERIFIED so a lying Content-Length cannot silently shift record
    // boundaries — the gate's shards with doc_id % 5 = 4 declare their
    // LAST record one octet short, and the decoder must drop that record
    // and stop (no second length source to resync from; that is exactly
    // why crawl archives gzip records separately — x118's job). Shards
    // are built as STRINGS in both engines' SQL (the format is text;
    // CRLF spelled chr(13)||chr(10), no escape-sequence dialect risk) and
    // the oracle predicts every field arithmetically. Narrow per-shard
    // flatMap, zero shuffle before the ORDER BY.
    QueryDef(
      "x117_warc_records",
      (s, d) => {
        def rec(i: Int): String = {
          val rid = s"(doc_id * 3 + $i)"
          val k = s"(1 + (doc_id * 5 + $i * 7) % 40)"
          val t = Seq("request", "response", "metadata")(i)
          val short = if (i == 2) "CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END" else "0"
          s"concat('WARC/1.0', crlf, 'WARC-Type: $t', crlf, " +
            s"'WARC-Target-URI: https://ex.org/d', CAST($rid AS STRING), crlf, " +
            s"'Content-Length: ', CAST(2 + $k - ($short) AS STRING), crlf, crlf, " +
            s"'p:', repeat('a', $k), crlf, crlf)"
        }
        val blobs = documents(s, d).filter(col("doc_id") < 15)
          .withColumn("crlf", expr("concat(chr(13), chr(10))"))
          .select(col("doc_id").as("media_id"),
            expr(s"CAST(concat(${rec(0)}, ${rec(1)}, ${rec(2)}) AS BINARY)").as("media"))
        graft.ops.WarcIndex.index(blobs)
          .select(col("shard_id"), col("rec_idx"), col("warc_type"),
            col("target_uri"), col("content_length"), col("payload"))
          .orderBy("shard_id", "rec_idx")
      },
      Some("""WITH m AS (SELECT doc_id, CAST(i AS BIGINT) AS i FROM documents
             |  CROSS JOIN (SELECT unnest(range(0, 3)) AS i) WHERE doc_id < 15),
             |f AS (SELECT doc_id, i FROM m WHERE NOT (doc_id % 5 = 4 AND i = 2))
             |SELECT doc_id AS shard_id, i AS rec_idx,
             |  CASE i WHEN 0 THEN 'request' WHEN 1 THEN 'response'
             |    ELSE 'metadata' END AS warc_type,
             |  'https://ex.org/d' || CAST(doc_id * 3 + i AS VARCHAR) AS target_uri,
             |  CAST(3 + (doc_id * 5 + i * 7) % 40 AS BIGINT) AS content_length,
             |  'p:' || repeat('a', CAST(1 + (doc_id * 5 + i * 7) % 40 AS INT)) AS payload
             |FROM f ORDER BY shard_id, rec_idx""".stripMargin)),

    // MULTI-MEMBER GZIP EXTRACTION (x118) — x117's compression wrapper:
    // Common Crawl gzips each WARC record as its own member so archives
    // split on member boundaries. graft.ops.GzipExtract walks RFC 1952
    // members — FNAME-flagged headers, raw DEFLATE via the JDK Inflater,
    // CRC32+ISIZE trailer verified against the inflated bytes — and a
    // corrupt trailer FLAGS the member while the walk resyncs from the
    // exact compressed length (Inflater.getBytesRead): the gate corrupts
    // member 0 of every 4th shard and member 1 must still extract clean,
    // proving the resync. Blobs are built in Spark SQL (stored-block
    // deflate — x36/x113's trick — with the stored CRC from Spark's
    // builtin crc32, so a green crc_ok cross-checks the SQL builder, the
    // JDK CRC32, AND the inflate path); the oracle predicts every field.
    // Narrow per-row flatMap, zero shuffle before the ORDER BY.
    QueryDef(
      "x118_gzip_members",
      (s, d) => {
        def member(i: Int): String = {
          val mid = s"(doc_id * 2 + $i)"
          val k = s"(1 + (doc_id * 3 + $i) % 30)"
          val fname = s"concat('m', CAST($mid AS STRING), '.txt')"
          val content = s"concat('g:', CAST(doc_id AS STRING), ':', '$i', " +
            s"repeat('y', $k))"
          val len = s"(length($content))"
          val bad = if (i == 0) "CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END" else "0"
          val crc = s"((crc32(CAST($content AS BINARY)) + ($bad)) % 4294967296)"
          s"concat('1F8B0808', '00000000', '0000', hex($fname), '00', " +
            s"'01', ${le16S(len)}, ${le16S(s"65535 - $len")}, hex($content), " +
            s"${le32S(crc)}, ${le32S(len)})"
        }
        val blobs = documents(s, d).filter(col("doc_id") < 12)
          .select(col("doc_id").as("media_id"),
            unhex(expr(s"concat(${member(0)}, ${member(1)})")).as("media"))
        graft.ops.GzipExtract.extract(blobs)
          .select(col("shard_id"), col("member_idx"), col("fname"),
            col("isize"), col("content"), col("crc_ok"))
          .orderBy("shard_id", "member_idx")
      },
      Some("""WITH m AS (SELECT doc_id, CAST(i AS BIGINT) AS i FROM documents
             |  CROSS JOIN (SELECT unnest(range(0, 2)) AS i) WHERE doc_id < 12),
             |b AS (SELECT doc_id, i, 1 + (doc_id * 3 + i) % 30 AS k FROM m)
             |SELECT doc_id AS shard_id, i AS member_idx,
             |  'm' || CAST(doc_id * 2 + i AS VARCHAR) || '.txt' AS fname,
             |  CAST(4 + length(CAST(doc_id AS VARCHAR)) + k AS BIGINT) AS isize,
             |  'g:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) ||
             |    repeat('y', CAST(k AS INT)) AS content,
             |  NOT (doc_id % 4 = 1 AND i = 0) AS crc_ok
             |FROM b ORDER BY shard_id, member_idx""".stripMargin)),

    // PER-SOURCE QUANTILE CALIBRATION (x119) — rank-based score
    // normalization before a GLOBAL threshold: quality scores (here the
    // length signal, standing in for any per-doc score) are not comparable
    // across sources (different extractors, different length profiles), so
    // curation maps each doc to its per-source percentile and reads the
    // calibrated value off the global score distribution at that
    // percentile — quantile normalization, the microarray-era standard.
    // All-integer: percentile in ppm via (rank−1)·10⁶ div (n−1), the
    // global read-back via the order statistic at 1 + pct·(N−1) div 10⁶ —
    // no interpolation floats. Scale: per-source ranks ride ONE source
    // exchange; the global rank is a single-partition window over the
    // (score, doc_id)-sorted frame — the documented tiny-frame exception
    // at gate scale; at 100 TB the swap is q40's bucketed CDF (histogram
    // bins + within-bin offsets), same mapping, no total sort.
    QueryDef(
      "x119_quantile_calibration",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"), col("source"),
          col("n_chars").cast(LongType).as("score"))
        val ws = Window.partitionBy("source").orderBy(col("score"), col("doc_id"))
        val wsAll = Window.partitionBy("source")
        val wg = Window.orderBy(col("score"), col("doc_id"))
        val ranked = docs
          .withColumn("rs", row_number().over(ws))
          .withColumn("ns", count(lit(1)).over(wsAll))
          // row_number is INT — the ×10⁶ must be 64-bit or it overflows
          // past ~2147 rows per source (caught by the 10× run under ANSI)
          .withColumn("pct_ppm",
            expr("CASE WHEN ns > 1 THEN (CAST(rs AS BIGINT) - 1) * 1000000 " +
              "div (ns - 1) ELSE 0 END"))
        val global = docs
          .select(col("score").as("gscore"), col("doc_id").as("gid"))
          .withColumn("gpos", row_number().over(
            Window.orderBy(col("gscore"), col("gid"))))
          .select("gpos", "gscore")
        val n = docs.agg(count(lit(1)).as("nn"))
        ranked.crossJoin(broadcast(n))
          .withColumn("pos", expr("1 + pct_ppm * (nn - 1) div 1000000"))
          .join(global, col("pos") === col("gpos"))
          .select(col("doc_id"), col("source"), col("score"),
            col("pct_ppm").cast(LongType).as("pct_ppm"),
            col("gscore").as("calibrated"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score
             |  FROM documents),
             |r AS (SELECT doc_id, source, score,
             |  row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rs,
             |  count(*) OVER (PARTITION BY source) AS ns FROM docs),
             |p AS (SELECT doc_id, source, score,
             |  CASE WHEN ns > 1 THEN (rs - 1) * 1000000 // (ns - 1) ELSE 0 END
             |    AS pct_ppm FROM r),
             |g AS (SELECT score AS gscore,
             |  row_number() OVER (ORDER BY score, doc_id) AS gpos FROM docs),
             |n AS (SELECT count(*) AS nn FROM docs)
             |SELECT doc_id, source, score, CAST(pct_ppm AS BIGINT) AS pct_ppm,
             |  gscore AS calibrated
             |FROM p CROSS JOIN n JOIN g ON g.gpos = 1 + pct_ppm * (nn - 1) // 1000000
             |ORDER BY doc_id""".stripMargin)),

    // CROSS-LINGUAL CANDIDATE MINING (x120) — the bitext-harvesting shape
    // (CCAligned/CCMatrix family): find document pairs in DIFFERENT
    // languages that share enough rare content anchors to be candidate
    // parallel/comparable texts, bounded by a length-ratio band. Anchors
    // are discriminative word 3-gram shingles (document frequency ≤ 20 —
    // x05's df-cap argument: rare shingles have short postings, so the
    // candidate join is sparse and the stopword-pair quadratic never
    // starts); a pair qualifies with ≥ 2 shared anchors and token counts
    // within 2× of each other (integer cross-multiplication). The anchor
    // postings frame feeds BOTH join sides — checkpointed (the
    // multi-consumer discipline). Scale: postings join keyed on shingle,
    // pair rollup partial-combines, everything after is id-sized.
    QueryDef(
      "x120_bitext_candidates",
      (s, d) => {
        val sh = documents(s, d)
          .select(col("doc_id"), col("lang"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .withColumn("len", size(col("tk")).cast(LongType))
          .select(col("doc_id"), col("lang"), col("len"),
            explode(array_distinct(graft.ops.TextDedup.shingles(col("tk")))).as("sh"))
        val posting = sh
          .withColumn("df", count(lit(1)).over(Window.partitionBy("sh")))
          .filter(col("df") <= 20)
          .select("doc_id", "lang", "len", "sh")
          .localCheckpoint(true) // both candidate-join sides read one frame
        posting.as("a")
          .join(posting.as("b"),
            col("a.sh") === col("b.sh") && col("a.lang") < col("b.lang"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            col("a.len").as("len_a"), col("b.len").as("len_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2 &&
            col("len_a") * 2 >= col("len_b") && col("len_b") * 2 >= col("len_a"))
          .select(col("a_id"), col("b_id"),
            col("n_shared").cast(LongType).as("n_shared"),
            col("len_a"), col("len_b"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, $tokensSql AS tk FROM documents),
             |shx AS (SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS len,
             |  unnest(list_distinct($shinglesSql)) AS sh FROM t WHERE len(tk) >= 3),
             |dfc AS (SELECT sh, count(*) AS df FROM shx GROUP BY 1),
             |post AS (SELECT doc_id, lang, len, shx.sh FROM shx
             |  JOIN dfc ON shx.sh = dfc.sh WHERE df <= 20)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(count(*) AS BIGINT) AS n_shared,
             |  a.len AS len_a, b.len AS len_b
             |FROM post a JOIN post b ON a.sh = b.sh AND a.lang < b.lang
             |GROUP BY 1, 2, 4, 5
             |HAVING count(*) >= 2 AND a.len * 2 >= b.len AND b.len * 2 >= a.len
             |ORDER BY a_id, b_id""".stripMargin)),

    // CRAWL INGEST COMPOSITION (x121) — the two container ops composed the
    // way Common Crawl actually lays data out: each shard is CONCATENATED
    // gzip members, each member holding exactly ONE WARC record
    // (x118 → x117 chained through the DataFrame API: extracted member
    // content re-binarized and fed to the WARC walk, member identity
    // carried in the synthetic media_id). Proves the ops compose as
    // library stages, not just in isolation. Corruption story inherited
    // from x118: member 0 of every 4th shard has a bad CRC — it STILL
    // parses as WARC (flagged upstream, content intact), so the composed
    // output keeps all records and the oracle predicts every field.
    QueryDef(
      "x121_crawl_ingest",
      (s, d) => {
        def member(i: Int): String = {
          val rid = s"(doc_id * 2 + $i)"
          val k = s"(1 + (doc_id * 7 + $i * 3) % 25)"
          val warc = s"concat('WARC/1.0', crlf, 'WARC-Type: response', crlf, " +
            s"'WARC-Target-URI: https://cc.ex/p', CAST($rid AS STRING), crlf, " +
            s"'Content-Length: ', CAST(2 + $k AS STRING), crlf, crlf, " +
            s"'w:', repeat('z', $k), crlf, crlf)"
          val len = s"(length($warc))"
          val bad = if (i == 0) "CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END" else "0"
          val crc = s"((crc32(CAST($warc AS BINARY)) + ($bad)) % 4294967296)"
          s"concat('1F8B0800', '00000000', '0000', " + // no FNAME: flg=0
            s"'01', ${le16S(len)}, ${le16S(s"65535 - $len")}, hex($warc), " +
            s"${le32S(crc)}, ${le32S(len)})"
        }
        val blobs = documents(s, d).filter(col("doc_id") < 10)
          .withColumn("crlf", expr("concat(chr(13), chr(10))"))
          .select(col("doc_id").as("media_id"),
            unhex(expr(s"concat(${member(0)}, ${member(1)})")).as("media"))
        val members = graft.ops.GzipExtract.extract(blobs)
          .select((col("shard_id") * 2 + col("member_idx")).as("media_id"),
            col("content").cast("binary").as("media"))
        graft.ops.WarcIndex.index(members)
          .select(expr("shard_id div 2").as("shard_id"),
            expr("shard_id % 2").as("member_idx"),
            col("warc_type"), col("target_uri"), col("payload"))
          .orderBy("shard_id", "member_idx")
      },
      Some("""WITH m AS (SELECT doc_id, CAST(i AS BIGINT) AS i FROM documents
             |  CROSS JOIN (SELECT unnest(range(0, 2)) AS i) WHERE doc_id < 10)
             |SELECT doc_id AS shard_id, i AS member_idx,
             |  'response' AS warc_type,
             |  'https://cc.ex/p' || CAST(doc_id * 2 + i AS VARCHAR) AS target_uri,
             |  'w:' || repeat('z', CAST(1 + (doc_id * 7 + i * 3) % 25 AS INT)) AS payload
             |FROM m ORDER BY shard_id, member_idx""".stripMargin)),

    // LINK-PREDICTION NEGATIVE SAMPLING (x122) — graph-ML training prep:
    // every positive (customer, supplier) edge needs k non-edges as
    // contrastive negatives, sampled UNIFORMLY over the supplier index and
    // rejected if they happen to be real edges. Randomness is the
    // catalog's deterministic hash (md5 of edge⊕probe), so both engines
    // draw identical candidates; 8 probes per positive, first 3 survivors
    // kept in probe order — rejection sampling with a deterministic tape.
    // Gate slice: customers ≡ 0 (mod 20) (the x86 bounded-gate pattern).
    // Scale: the supplier index is entity-sized and broadcasts twice
    // (id→idx for candidates, and the rejection anti-join probes the edge
    // set keyed on (c, cand) — partial-combined, never quadratic); probe
    // fan-out ×8 is narrow.
    QueryDef(
      "x122_negative_sampling",
      (s, d) => {
        val edges = cfCappedEdges(s, d)
        val sup = supplier(s, d).select(col("s_suppkey"))
          .withColumn("sidx",
            row_number().over(Window.orderBy("s_suppkey")).cast(LongType) - 1)
        val nSup = sup.agg(count(lit(1)).as("nsup"))
        val pos = edges.filter(col("c") % 20 === 0)
        val cand = pos.select(col("c"), col("sp"),
            explode(expr("sequence(0L, 7L)")).as("j"))
          .crossJoin(broadcast(nSup))
          .withColumn("cidx", expr(
            "CAST(conv(substring(md5(concat(CAST(c AS STRING), ':', " +
              "CAST(sp AS STRING), ':', CAST(j AS STRING))), 1, 8), 16, 10) " +
              "AS BIGINT) % nsup"))
          .join(broadcast(sup), col("cidx") === col("sidx"))
          .select(col("c"), col("sp"), col("j"), col("s_suppkey").as("neg_sp"))
        val rejected = cand.join(
          edges.select(col("c"), col("sp").as("neg_sp"), lit(true).as("is_edge")),
          Seq("c", "neg_sp"), "left")
        val acc = rejected.filter(col("is_edge").isNull)
          .withColumn("rk", row_number().over(
            Window.partitionBy("c", "sp").orderBy("j")))
          .filter(col("rk") <= 3)
          .groupBy("c", "sp")
          .agg(count(lit(1)).as("n_neg"),
            expr("array_join(transform(array_sort(collect_list(struct(j, neg_sp)))," +
              " x -> CAST(x.neg_sp AS STRING)), ',')").as("negs"))
        // left join back so a positive with NO viable negative (a customer
        // connected to every supplier — the whole tiny-fixture graph)
        // still reports, with n_neg = 0
        pos.join(acc, Seq("c", "sp"), "left")
          .select(col("c"), col("sp"),
            coalesce(col("n_neg"), lit(0L)).cast(LongType).as("n_neg"),
            coalesce(col("negs"), lit("")).as("negs"))
          .orderBy("c", "sp")
      },
      Some {
        val hex8 = (0 until 8).map(k =>
          s"(instr('0123456789abcdef', substr(h, ${k + 1}, 1)) - 1) * " +
            s"${1L << (4 * (7 - k))}").mkString("(", " + ", ")")
        s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |cdg AS (SELECT c, count(*) AS cdeg FROM e GROUP BY 1),
           |capped AS (SELECT e.c, e.sp FROM e JOIN cdg USING (c) WHERE cdeg <= 30),
           |sup AS (SELECT s_suppkey,
           |  row_number() OVER (ORDER BY s_suppkey) - 1 AS sidx FROM supplier),
           |ns AS (SELECT count(*) AS nsup FROM sup),
           |pos AS (SELECT c, sp FROM capped WHERE c % 20 = 0),
           |pr AS (SELECT c, sp, CAST(j AS BIGINT) AS j,
           |  md5(CAST(c AS VARCHAR) || ':' || CAST(sp AS VARCHAR) || ':' ||
           |    CAST(j AS VARCHAR)) AS h
           |  FROM pos CROSS JOIN (SELECT unnest(range(0, 8)) AS j)),
           |cand AS (SELECT c, sp, j, s_suppkey AS neg_sp
           |  FROM pr CROSS JOIN ns JOIN sup ON sup.sidx = $hex8 % nsup),
           |acc AS (SELECT cand.c, cand.sp, cand.j, cand.neg_sp FROM cand
           |  LEFT JOIN capped x ON x.c = cand.c AND x.sp = cand.neg_sp
           |  WHERE x.sp IS NULL),
           |rk AS (SELECT c, sp, j, neg_sp,
           |  row_number() OVER (PARTITION BY c, sp ORDER BY j) AS rk FROM acc),
           |ag AS (SELECT c, sp, CAST(count(*) AS BIGINT) AS n_neg,
           |  string_agg(CAST(neg_sp AS VARCHAR), ',' ORDER BY j) AS negs
           |  FROM rk WHERE rk <= 3 GROUP BY 1, 2)
           |SELECT pos.c AS c, pos.sp AS sp, coalesce(n_neg, 0) AS n_neg,
           |  coalesce(negs, '') AS negs
           |FROM pos LEFT JOIN ag ON pos.c = ag.c AND pos.sp = ag.sp
           |ORDER BY c, sp""".stripMargin
      }),

    // DETERMINISTIC RANDOM-WALK CORPUS (x123) — DeepWalk/node2vec stage
    // one: generate walk sequences over the graph that a skip-gram
    // embedding then consumes as sentences. Walks here are 4 steps over
    // the kNN co-trade graph ([[cfCoPairs]] session-shared frame,
    // symmetrized), with the "random" hop drawn by the deterministic hash
    // of (current node, step, walk start) modulo the degree — both engines
    // walk identical paths, and unlike RNG walks the corpus is
    // reproducible run to run (the property production walk generators get
    // from seeded per-partition streams). Scale: the adjacency folds to
    // one sorted neighbor array per node (entity-sized, broadcast); each
    // step is one broadcast join — 4 chained narrow joins, no iteration
    // barrier growth (the walk frame stays |nodes|-sized).
    QueryDef(
      "x123_random_walks",
      (s, d) => {
        val e = cfCoPairs(s, d).select("s1", "s2")
        val adj = e.select(col("s1").as("u"), col("s2").as("v"))
          .unionAll(e.select(col("s2").as("u"), col("s1").as("v")))
          .groupBy("u").agg(array_sort(collect_list(col("v"))).as("nbrs"))
        var walk = adj.select(col("u").as("start"), col("u").as("cur"),
          col("u").cast("string").as("path"))
        for (step <- 1 to 4) {
          walk = walk
            .join(broadcast(adj.select(col("u").as("cur"), col("nbrs"))), Seq("cur"))
            .withColumn("nxt", expr(
              s"element_at(nbrs, CAST(CAST(conv(substring(md5(concat(" +
                s"CAST(cur AS STRING), ':', '$step', ':', " +
                s"CAST(start AS STRING))), 1, 8), 16, 10) AS BIGINT) " +
                s"% size(nbrs) + 1 AS INT))"))
            .select(col("start"), col("nxt").as("cur"),
              concat(col("path"), lit("->"), col("nxt").cast("string")).as("path"))
        }
        walk.select(col("start").cast(LongType).as("start"), col("path"))
          .orderBy("start")
      },
      Some {
        def hex8(e: String) = (0 until 8).map(k =>
          s"(instr('0123456789abcdef', substr($e, ${k + 1}, 1)) - 1) * " +
            s"${1L << (4 * (7 - k))}").mkString("(", " + ", ")")
        def step(i: Int) = {
          val h = s"md5(CAST(w${i - 1}.cur AS VARCHAR) || ':' || '$i' || ':' || " +
            s"CAST(w${i - 1}.start AS VARCHAR))"
          s"""w$i AS (SELECT w${i - 1}.start,
             |  a.nbrs[CAST(${hex8(h)} % len(a.nbrs) + 1 AS INT)] AS cur,
             |  w${i - 1}.path || '->' ||
             |    CAST(a.nbrs[CAST(${hex8(h)} % len(a.nbrs) + 1 AS INT)] AS VARCHAR)
             |    AS path
             |  FROM w${i - 1} JOIN a ON a.u = w${i - 1}.cur)""".stripMargin
        }
        s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |cdg AS (SELECT c, count(*) AS cdeg FROM e GROUP BY 1),
           |capped AS (SELECT e.c, e.sp FROM e JOIN cdg USING (c) WHERE cdeg <= 30),
           |p0 AS (SELECT a.sp AS s1, b.sp AS s2, CAST(count(*) AS BIGINT) AS co
           |  FROM capped a JOIN capped b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
           |sym0 AS (SELECT s1 AS u, s2 AS v, co FROM p0
           |  UNION ALL SELECT s2, s1, co FROM p0),
           |kn AS (SELECT u, v FROM (SELECT u, v,
           |  row_number() OVER (PARTITION BY u ORDER BY co DESC, v) AS rn FROM sym0)
           |  WHERE rn <= 10),
           |pk AS (SELECT DISTINCT least(u, v) AS s1, greatest(u, v) AS s2 FROM kn),
           |a AS (SELECT u, list_sort(list(v)) AS nbrs FROM
           |  (SELECT s1 AS u, s2 AS v FROM pk UNION ALL SELECT s2, s1 FROM pk)
           |  GROUP BY u),
           |w0 AS (SELECT u AS start, u AS cur, CAST(u AS VARCHAR) AS path FROM a),
           |${(1 to 4).map(step).mkString(",\n")}
           |SELECT CAST(start AS BIGINT) AS start, path FROM w4
           |ORDER BY start""".stripMargin
      }),

    // LABEL-NOISE DETECTION (x124) — the supervised-data quality gate
    // (Confident-Learning family): a vector whose nearest neighbors
    // mostly carry a DIFFERENT label is a suspected mislabel. For each
    // query vector (vec_id ≡ 0 mod 17 — bounded gate slice), take its 10
    // cosine-nearest neighbors (q21's broadcast top-k shape, total-order
    // tie-break) and report the disagreement count and rate in ppm. x97
    // MINES cross-label neighbors for contrastive training; this SCORES
    // labels by neighborhood consensus — same machinery, opposite
    // purpose. Scale: queries broadcast against the corpus, per-query
    // ranking rides one window exchange, output is slice-sized.
    QueryDef(
      "x124_label_noise",
      (s, d) => {
        val e = embeddings(s, d)
        // fixed-size query sample at scale (same argument as x69: the
        // modulus alone makes |Q| ∝ n and the scoring pass quadratic)
        val q = e.filter(col("vec_id") % 17 === 0 && col("vec_id") < 20000)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("label").as("q_label"))
        val w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("n_id"))
        e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
            col("label").as("n_label"))
          .join(broadcast(q), col("n_id") =!= col("q_id"))
          .withColumn("cos_raw", VectorFunctions.cosine(col("q_emb"), col("n_emb")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .groupBy(col("q_id"), col("q_label"))
          .agg(sum(when(col("n_label") =!= col("q_label"), 1L).otherwise(0L))
            .as("n_disagree"))
          .select(col("q_id"), col("q_label").cast(LongType).as("q_label"),
            col("n_disagree").cast(LongType).as("n_disagree"),
            expr("n_disagree * 1000000 div 10").cast(LongType).as("noise_ppm"))
          .orderBy(col("n_disagree").desc, col("q_id"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb,
             |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm,
             |  label AS q_label FROM e WHERE vec_id % 17 = 0 AND vec_id < 20000),
             |x AS (SELECT q_id, q_label, e.label AS n_label,
             |  row_number() OVER (PARTITION BY q_id ORDER BY
             |    list_dot_product(q_emb, emb) / (q_norm * norm) DESC, vec_id) AS rn
             |  FROM q JOIN e ON e.vec_id <> q_id)
             |SELECT q_id, CAST(q_label AS BIGINT) AS q_label,
             |  CAST(sum(CASE WHEN n_label <> q_label THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_disagree,
             |  CAST(sum(CASE WHEN n_label <> q_label THEN 1 ELSE 0 END)
             |    * 1000000 // 10 AS BIGINT) AS noise_ppm
             |FROM x WHERE rn <= 10 GROUP BY 1, 2
             |ORDER BY n_disagree DESC, q_id""".stripMargin)),

    // CONSISTENT-HASH SHARD ASSIGNMENT (x125) — the data-layout op behind
    // elastic shard counts: docs map to the first ring vnode clockwise of
    // their hash (16 shards × 4 vnodes), and the query PROVES the
    // consistent-hashing selling point by also assigning against a 17th
    // shard's added vnodes and counting who moves — only docs whose
    // clockwise successor is a NEW vnode relocate (≈ 4/68 of the corpus),
    // versus mod-hashing (x17's split) where a bucket-count change moves
    // ~everything. All-integer: ring positions and doc points are the
    // catalog's 32-bit md5-prefix hash; successor = min ring position ≥
    // point, wrapping to the global min. Scale: the ring is 64/68 rows —
    // broadcast; the doc×ring fan-out is a bounded ×|ring| narrow join
    // whose per-doc min partial-combines map-side; output is 16 rows.
    QueryDef(
      "x125_consistent_sharding",
      (s, d) => {
        val hex8 = "CAST(conv(substring(md5(%s), 1, 8), 16, 10) AS BIGINT)"
        def ring(nShards: Int): DataFrame = {
          val rows = (0 until nShards).flatMap(sh => (0 until 4).map(v => (sh, v)))
          import s.implicits._
          rows.toDF("shard", "v")
            .withColumn("rp", expr(hex8.format(
              "concat('shard:', CAST(shard AS STRING), ':', CAST(v AS STRING))")))
            .select(col("shard").cast(LongType).as("shard"), col("rp"))
        }
        def assign(docs: DataFrame, ringDf: DataFrame, out: String): DataFrame = {
          val best = docs.crossJoin(broadcast(ringDf))
            .groupBy("doc_id", "p")
            .agg(min(when(col("rp") >= col("p"), col("rp"))).as("succ"),
              min(col("rp")).as("wrap"))
            .withColumn("arp", coalesce(col("succ"), col("wrap")))
          best.join(broadcast(ringDf), col("arp") === col("rp"))
            .select(col("doc_id"), col("p"), col("shard").as(out))
        }
        val docs = documents(s, d)
          .select(col("doc_id"),
            expr(hex8.format("concat('doc:', CAST(doc_id AS STRING))")).as("p"))
        val a16 = assign(docs, ring(16), "shard16")
        val a17 = assign(docs.select("doc_id", "p"), ring(17), "shard17")
        a16.join(a17.select("doc_id", "shard17"), Seq("doc_id"))
          .groupBy(col("shard16").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("shard17") === 16L, 1L).otherwise(0L)).as("n_moved"))
          .crossJoin(broadcast(documents(s, d).agg(count(lit(1)).as("nd"))))
          .select(col("shard"), col("n_docs").cast(LongType).as("n_docs"),
            expr("CAST(n_docs * 1000000 div nd AS BIGINT) AS share_ppm"),
            col("n_moved").cast(LongType).as("n_moved"))
          .orderBy("shard")
      },
      Some {
        val hex8of = (e: String) => (0 until 8).map(k =>
          s"(instr('0123456789abcdef', substr(md5($e), ${k + 1}, 1)) - 1) * " +
            s"${1L << (4 * (7 - k))}").mkString("(", " + ", ")")
        def ringSql(n: Int, name: String) =
          s"""$name AS (SELECT shard, ${hex8of(
            "'shard:' || CAST(shard AS VARCHAR) || ':' || CAST(v AS VARCHAR)")} AS rp
             |  FROM (SELECT unnest(range(0, $n)) AS shard)
             |  CROSS JOIN (SELECT unnest(range(0, 4)) AS v))""".stripMargin
        def assignSql(ring: String, out: String) =
          s"""(SELECT doc_id, shard AS $out FROM (
             |  SELECT d.doc_id, d.p,
             |    coalesce(min(CASE WHEN r.rp >= d.p THEN r.rp END), min(r.rp)) AS arp
             |  FROM docs d CROSS JOIN $ring r GROUP BY 1, 2) x
             |  JOIN $ring rr ON rr.rp = x.arp)""".stripMargin
        s"""WITH docs AS (SELECT doc_id,
           |  ${hex8of("'doc:' || CAST(doc_id AS VARCHAR)")} AS p FROM documents),
           |${ringSql(16, "r16")},
           |${ringSql(17, "r17")},
           |a16 AS ${assignSql("r16", "shard16")},
           |a17 AS ${assignSql("r17", "shard17")},
           |n AS (SELECT count(*) AS nd FROM documents)
           |SELECT CAST(shard16 AS BIGINT) AS shard,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(*) * 1000000 // nd AS BIGINT) AS share_ppm,
           |  CAST(sum(CASE WHEN shard17 = 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
           |FROM a16 JOIN a17 USING (doc_id) CROSS JOIN n
           |GROUP BY shard16, nd ORDER BY shard""".stripMargin
      }),

    // COLUMNAR ENCODING ADVISOR (x126) — the storage-layout profiling that
    // decides parquet encodings before a big rewrite (x60 orders the rows;
    // this picks the byte encoding): for each candidate column, exact
    // plain/dictionary/RLE byte estimates from value statistics — plain =
    // Σ len, dictionary = distinct-entry bytes + n·⌈log₂ndv⌉ bits, RLE =
    // per-run (value + 4-byte run length). Integer end to end: the bit
    // width comes from length(bin(ndv−1)) (identical string semantics in
    // both engines — no log2 float), runs from a lag comparison with
    // RUNS RESETTING AT ROW-GROUP (orderkey) BOUNDARIES — exactly what
    // parquet RLE does (encodings never span pages), and what makes the
    // window key (column, orderkey) instead of the 4-partition
    // column-only window that single-threaded the sort at 10× (measured
    // 32 s; distributed: ~2 s). (orderkey, linenumber) is NOT unique in
    // this synthetic fixture — v is the final tiebreak; equal-v ties
    // cannot change run structure. Scale: one tall stack (narrow ×4), one
    // (column, row-group) exchange for the run window — row-group-keyed,
    // so it distributes at any scale — and a column-keyed rollup.
    QueryDef(
      "x126_encoding_advisor",
      (s, d) => {
        val tall = lineitem(s, d).selectExpr(
          "l_orderkey", "l_linenumber",
          "stack(4, 'returnflag', l_returnflag, 'linestatus', l_linestatus, " +
            "'shipmonth', date_format(l_shipdate, 'yyyy-MM'), " +
            "'quantity', CAST(CAST(l_quantity AS BIGINT) AS STRING)) AS (cn, v)")
        val w = Window.partitionBy("cn", "l_orderkey").orderBy("l_linenumber", "v")
        val runs = tall
          .withColumn("prev", lag(col("v"), 1).over(w))
          .withColumn("newrun",
            when(col("prev").isNull || col("prev") =!= col("v"), 1L).otherwise(0L))
        // dictionary entries come from a SECOND narrow pass over the tall
        // frame (column-pruned scan, no window) — cheaper than checkpointing
        // 4×|rows| strings, and the run-window exchange is not repeated
        runs.groupBy("cn")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("v")).as("ndv"),
            sum(col("newrun")).as("runs"),
            sum(length(col("v"))).as("plain_bytes"),
            sum(when(col("newrun") === 1L, length(col("v")) + 4L).otherwise(0L))
              .as("rle_bytes"))
          .join(
            tall.select(col("cn"), col("v")).distinct()
              .groupBy("cn").agg(sum(length(col("v"))).as("entry_bytes")),
            Seq("cn"))
          .withColumn("dict_bytes", expr(
            "entry_bytes + (n * length(bin(ndv - 1)) + 7) div 8"))
          .select(col("cn"), col("n").cast(LongType).as("n"),
            col("ndv").cast(LongType).as("ndv"),
            col("runs").cast(LongType).as("runs"),
            col("plain_bytes").cast(LongType).as("plain_bytes"),
            col("dict_bytes").cast(LongType).as("dict_bytes"),
            col("rle_bytes").cast(LongType).as("rle_bytes"),
            expr("CASE WHEN rle_bytes <= dict_bytes AND rle_bytes <= plain_bytes " +
              "THEN 'rle' WHEN dict_bytes <= plain_bytes THEN 'dict' " +
              "ELSE 'plain' END").as("advised"))
          .orderBy("cn")
      },
      Some("""WITH tall AS (
             |  SELECT l_orderkey, l_linenumber, 'returnflag' AS cn, l_returnflag AS v
             |    FROM lineitem
             |  UNION ALL SELECT l_orderkey, l_linenumber, 'linestatus', l_linestatus
             |    FROM lineitem
             |  UNION ALL SELECT l_orderkey, l_linenumber, 'shipmonth',
             |    strftime(l_shipdate, '%Y-%m') FROM lineitem
             |  UNION ALL SELECT l_orderkey, l_linenumber, 'quantity',
             |    CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) FROM lineitem),
             |r AS (SELECT cn, v,
             |  CASE WHEN lag(v) OVER (PARTITION BY cn, l_orderkey
             |    ORDER BY l_linenumber, v) IS DISTINCT FROM v THEN 1 ELSE 0 END AS newrun
             |  FROM tall),
             |agg AS (SELECT cn, CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(DISTINCT v) AS BIGINT) AS ndv,
             |  CAST(sum(newrun) AS BIGINT) AS runs,
             |  CAST(sum(length(v)) AS BIGINT) AS plain_bytes,
             |  CAST(sum(CASE WHEN newrun = 1 THEN length(v) + 4 ELSE 0 END)
             |    AS BIGINT) AS rle_bytes FROM r GROUP BY 1),
             |de AS (SELECT cn, CAST(sum(length(v)) AS BIGINT) AS entry_bytes
             |  FROM (SELECT DISTINCT cn, v FROM tall) GROUP BY 1)
             |SELECT agg.cn AS cn, n, ndv, runs, plain_bytes,
             |  CAST(entry_bytes + (n * length(bin(ndv - 1)) + 7) // 8 AS BIGINT)
             |    AS dict_bytes,
             |  rle_bytes,
             |  CASE WHEN rle_bytes <= entry_bytes + (n * length(bin(ndv - 1)) + 7) // 8
             |      AND rle_bytes <= plain_bytes THEN 'rle'
             |    WHEN entry_bytes + (n * length(bin(ndv - 1)) + 7) // 8 <= plain_bytes
             |      THEN 'dict' ELSE 'plain' END AS advised
             |FROM agg JOIN de ON agg.cn = de.cn ORDER BY cn""".stripMargin)),

    // BASKET ASSOCIATION RULES (x127) — market-basket co-occurrence over
    // order baskets (brand granularity): support, and lift in integer ppm
    // for every brand pair bought together — x55 computes lift over token
    // windows in TEXT; this is the transactional-domain counterpart a
    // recommender/curation stack also needs (x114's CF scores items by
    // shared customers; rules score pairs by shared BASKETS). Exact: all
    // counts; lift_ppm = co·n·10⁶ div (c₁·c₂). Scale: ONE okey exchange
    // collapses orders to sorted brand sets; pairs explode narrowly from
    // the arrays; co/item/n rollups partial-combine into ≤ brands²-bounded
    // frames; item counts broadcast back; top-20 under a total order.
    QueryDef(
      "x127_basket_rules",
      (s, d) => {
        // ONE basket exchange, then everything is narrow or bounded: the
        // former shape (6 M-row (order, brand) distinct + checkpoint +
        // okey self-join = three fact-sized exchanges) is replaced by a
        // single groupBy(okey) collapsing each order to its sorted brand
        // SET — |orders| rows with ≤|order lines| elements — from which
        // pair generation is a narrow array-combination explode and the
        // co/item/n rollups all partial-combine into ≤|brands|²-bounded
        // frames. Same exact counts (collect_set ≡ the distinct; sorted
        // array ⇒ b1 < b2), measured 9× behind the oracle at 10× before.
        // the basket frame is a reusable derived artifact (x114's CF family
        // consumes the same kind of frame) — durably materialized through
        // DerivedStore so the one okey exchange is paid once per FIXTURE,
        // not per session; the localCheckpoint pins the store scan for the
        // 3 consumers below (n, item counts, pairs)
        val baskets = SharedCache.getOrCompute(
          SharedCache.key(s, d, "brand_baskets")) {
          graft.ops.DerivedStore.getOrBuild(s,
            name = "brand_baskets_v1_" + dirSlug(d),
            inputFiles = Seq(s"$d/lineitem.parquet", s"$d/part.parquet"),
            bucketCols = Seq("okey")) {
            lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
              .join(broadcast(part(s, d).select(col("p_partkey"), col("p_brand"))),
                col("l_partkey") === col("p_partkey"))
              .groupBy(col("l_orderkey").as("okey"))
              .agg(array_sort(collect_set(col("p_brand"))).as("bs"))
          }.localCheckpoint(eager = true)
        }
        val n = baskets.agg(count(lit(1)).as("n"))
        val item = baskets.select(explode(col("bs")).as("brand"))
          .groupBy("brand").agg(count(lit(1)).as("cnt"))
        baskets
          .select(explode(expr(
            "flatten(transform(bs, (x, i) -> " +
              "transform(slice(bs, i + 2, size(bs)), y -> struct(x AS b1, y AS b2))))"))
            .as("p"))
          .groupBy(col("p.b1").as("b1"), col("p.b2").as("b2"))
          .agg(count(lit(1)).as("co"))
          .join(broadcast(item.select(col("brand").as("b1"), col("cnt").as("c1"))),
            Seq("b1"))
          .join(broadcast(item.select(col("brand").as("b2"), col("cnt").as("c2"))),
            Seq("b2"))
          .crossJoin(broadcast(n))
          .select(col("b1"), col("b2"), col("co").cast(LongType).as("co"),
            expr("CAST(co * 1000000 div n AS BIGINT) AS support_ppm"),
            expr("CAST(co * n * 1000000 div (c1 * c2) AS BIGINT) AS lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("b1"), col("b2"))
          .limit(20)
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |n AS (SELECT count(DISTINCT okey) AS n FROM b),
             |item AS (SELECT brand, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
             |p AS (SELECT x.brand AS b1, y.brand AS b2, CAST(count(*) AS BIGINT) AS co
             |  FROM b x JOIN b y ON x.okey = y.okey AND x.brand < y.brand
             |  GROUP BY 1, 2)
             |SELECT b1, b2, co,
             |  CAST(co * 1000000 // n AS BIGINT) AS support_ppm,
             |  CAST(co * n * 1000000 // (i1.cnt * i2.cnt) AS BIGINT) AS lift_ppm
             |FROM p JOIN item i1 ON p.b1 = i1.brand JOIN item i2 ON p.b2 = i2.brand
             |CROSS JOIN n
             |ORDER BY lift_ppm DESC, b1, b2 LIMIT 20""".stripMargin)),

    // QUANTIZATION RECALL IMPACT (x128) — the ablation behind shipping
    // int8 embeddings (x33 quantizes; this answers "what does it cost"):
    // for each query vector, the overlap between its float-cosine top-10
    // and its int8-dot top-10. The int8 ranking runs on the new NATIVE
    // [[graft.functions.IntDotProduct]] expression — a fused
    // whole-stage-codegen integer loop (the CosineSimilarity pattern),
    // and because it is integer arithmetic the quantized ranking is EXACT
    // cross-engine with zero float-parity care; the float side is q21's
    // established bit-identical cosine contract. Quantization is
    // symmetric per-vector max-abs scaling to ±127 (the standard scheme),
    // with the zero-vector guarded. Scale: queries broadcast against the
    // corpus twice (two metrics), per-query rankings ride one window
    // exchange each; output is slice-sized.
    QueryDef(
      "x128_quantization_recall",
      (s, d) => {
        val quant = "CASE WHEN s = 0.0 THEN array_repeat(0L, size(embedding)) " +
          "ELSE transform(embedding, e -> " +
          "CAST(round(CAST(e AS DOUBLE) * 127 / s) AS BIGINT)) END"
        val e = embeddings(s, d)
          .withColumn("s",
            expr("array_max(transform(embedding, e -> abs(CAST(e AS DOUBLE))))"))
          .withColumn("qv", expr(quant))
          .select(col("vec_id"), col("embedding"), col("qv"))
          .localCheckpoint(true) // both ranking passes + query slice read it
        // fixed-size query sample at scale (the x69/x124 argument)
        val q = e.filter(col("vec_id") % 29 === 0 && col("vec_id") < 20000)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("qv").as("q_qv"))
        val w = Window.partitionBy("q_id").orderBy(col("m").desc, col("n_id"))
        def top10(metric: org.apache.spark.sql.Column): DataFrame = e
          .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
            col("qv").as("n_qv"))
          .join(broadcast(q), col("n_id") =!= col("q_id"))
          .withColumn("m", metric)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select("q_id", "n_id")
        val f = top10(VectorFunctions.cosine(col("q_emb"), col("n_emb")))
        val i8 = top10(graft.functions.IntDotProduct
          .intDot(col("q_qv"), col("n_qv")).cast("double"))
        f.join(i8, Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
          .join(q.select("q_id"), Seq("q_id"), "right")
          .select(col("q_id"),
            coalesce(col("n_overlap"), lit(0L)).cast(LongType).as("n_overlap"),
            expr("CAST(coalesce(n_overlap, 0) * 1000000 div 10 AS BIGINT)")
              .as("recall_ppm"))
          .orderBy("q_id")
      },
      Some("""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
             |e AS (SELECT vec_id, emb,
             |  sqrt(list_dot_product(emb, emb)) AS norm,
             |  list_max(list_transform(emb, x -> abs(x))) AS s FROM e0),
             |eq AS (SELECT vec_id, emb, norm,
             |  CASE WHEN s = 0.0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
             |    ELSE list_transform(emb, x -> CAST(round(x * 127 / s) AS BIGINT))
             |  END AS qv FROM e),
             |q AS (SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm, qv AS q_qv
             |  FROM eq WHERE vec_id % 29 = 0 AND vec_id < 20000),
             |fr AS (SELECT q_id, vec_id AS n_id FROM (SELECT q_id, vec_id,
             |  row_number() OVER (PARTITION BY q_id ORDER BY
             |    list_dot_product(q_emb, emb) / (q_norm * norm) DESC, vec_id) AS rn
             |  FROM q JOIN eq ON vec_id <> q_id) WHERE rn <= 10),
             |ir AS (SELECT q_id, vec_id AS n_id FROM (SELECT q_id, vec_id,
             |  row_number() OVER (PARTITION BY q_id ORDER BY
             |    CAST(list_dot_product(q_qv, qv) AS DOUBLE) DESC, vec_id) AS rn
             |  FROM q JOIN eq ON vec_id <> q_id) WHERE rn <= 10),
             |ov AS (SELECT fr.q_id, CAST(count(*) AS BIGINT) AS n_overlap
             |  FROM fr JOIN ir ON fr.q_id = ir.q_id AND fr.n_id = ir.n_id
             |  GROUP BY 1)
             |SELECT q.q_id AS q_id, coalesce(n_overlap, 0) AS n_overlap,
             |  CAST(coalesce(n_overlap, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm
             |FROM q LEFT JOIN ov ON q.q_id = ov.q_id
             |ORDER BY q_id""".stripMargin)),

    // RFM SEGMENTATION (x129) — the customer-value rollup (recency /
    // frequency / monetary quartile codes) that feeds every churn or
    // targeting model; here it also stands in for any per-entity
    // multi-signal quartile coding over a fact stream. Exact integers:
    // recency in whole days against the global max order date, money in
    // CENTS via one decimal cast (never double addition), quartiles by
    // the explicit rank formula 1 + (rank−1)·4 div n with (value, key)
    // total order — no ntile, whose boundary conventions differ. Scale:
    // the per-customer rollup partial-combines on ONE custkey exchange;
    // the three quartile ranks are global single-partition windows over
    // the customer-sized frame — the documented tiny-frame exception
    // (x119's posture; at 100 TB the swap is the bucketed-CDF quantile,
    // same codes); output is ≤ 4³ segment rows.
    QueryDef(
      "x129_rfm_segments",
      (s, d) => {
        val o = orders(s, d).select(col("o_custkey"), col("o_orderdate"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))
        val per = o
          .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("mx"))))
          .groupBy("o_custkey")
          .agg(min(expr("datediff(mx, o_orderdate)")).cast(LongType).as("r_days"),
            count(lit(1)).as("f"), sum(col("cents")).as("m_cents"))
        def quart(c: String, out: String)(df: DataFrame): DataFrame = df
          .withColumn(s"rk_$out", row_number().over(
            Window.orderBy(col(c), col("o_custkey"))))
          .withColumn(out, expr(
            s"1 + (CAST(rk_$out AS BIGINT) - 1) * 4 div nn"))
        val n = per.agg(count(lit(1)).as("nn"))
        val coded = quart("m_cents", "qm")(quart("f", "qf")(quart("r_days", "qr")(
          per.crossJoin(broadcast(n)))))
        coded
          .groupBy(expr("concat(qr, qf, qm)").as("segment"))
          .agg(count(lit(1)).cast(LongType).as("n_customers"),
            sum(col("m_cents")).cast(LongType).as("sum_cents"))
          .orderBy("segment")
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderdate,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
             |  FROM orders),
             |mx AS (SELECT max(o_orderdate) AS mx FROM o),
             |per AS (SELECT o_custkey,
             |  CAST(min(datediff('day', o_orderdate, mx)) AS BIGINT) AS r_days,
             |  CAST(count(*) AS BIGINT) AS f, CAST(sum(cents) AS BIGINT) AS m_cents
             |  FROM o CROSS JOIN mx GROUP BY 1),
             |n AS (SELECT count(*) AS nn FROM per),
             |coded AS (SELECT o_custkey, m_cents,
             |  1 + (row_number() OVER (ORDER BY r_days, o_custkey) - 1) * 4 // nn AS qr,
             |  1 + (row_number() OVER (ORDER BY f, o_custkey) - 1) * 4 // nn AS qf,
             |  1 + (row_number() OVER (ORDER BY m_cents, o_custkey) - 1) * 4 // nn AS qm
             |  FROM per CROSS JOIN n)
             |SELECT CAST(qr AS VARCHAR) || CAST(qf AS VARCHAR) || CAST(qm AS VARCHAR)
             |    AS segment,
             |  CAST(count(*) AS BIGINT) AS n_customers,
             |  CAST(sum(m_cents) AS BIGINT) AS sum_cents
             |FROM coded GROUP BY 1 ORDER BY segment""".stripMargin)),

    // WRITER BALANCE STRATEGIES (x130) — how to split a corpus into 8
    // equal-ish output files: CONTIGUOUS rank ranges (what a naive sorted
    // write produces — all the long documents land in file 0) versus
    // SIZE-RANK STRIPING (file = rank mod 8 over the size-descending
    // order — each file gets every 8th document, sizes interleave). The
    // query ships both assignments side by side so the imbalance is
    // measured, not asserted: striping's per-file byte totals differ by
    // at most a few documents, contiguous ones differ by the whole length
    // distribution. All-integer; one size-ordered global rank (documented
    // tiny-frame window; 100 TB swap = distributed sort + partition-index
    // arithmetic, same assignment); output is 2×8 rows.
    QueryDef(
      "x130_writer_balance",
      (s, d) => {
        val ranked = documents(s, d)
          .select(col("doc_id"), col("n_chars").cast(LongType).as("sz"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("sz").desc, col("doc_id"))).cast(LongType))
        val n = ranked.agg(count(lit(1)).as("nn"))
        val assigned = ranked.crossJoin(broadcast(n))
          .withColumn("striped", expr("(rk - 1) % 8"))
          .withColumn("contiguous", expr("least((rk - 1) * 8 div nn, 7)"))
        assigned.select(lit("striped").as("strategy"),
            col("striped").as("file_id"), col("sz"))
          .unionByName(assigned.select(lit("contiguous").as("strategy"),
            col("contiguous").as("file_id"), col("sz")))
          .groupBy("strategy", "file_id")
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum(col("sz")).cast(LongType).as("sum_chars"))
          .orderBy("strategy", "file_id")
      },
      Some("""WITH r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS sz,
             |  CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
             |  FROM documents),
             |n AS (SELECT count(*) AS nn FROM r),
             |a AS (SELECT sz, (rk - 1) % 8 AS striped,
             |  least((rk - 1) * 8 // nn, 7) AS contiguous FROM r CROSS JOIN n),
             |t AS (SELECT 'striped' AS strategy, striped AS file_id, sz FROM a
             |  UNION ALL SELECT 'contiguous', contiguous, sz FROM a)
             |SELECT strategy, CAST(file_id AS BIGINT) AS file_id,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(sz) AS BIGINT) AS sum_chars
             |FROM t GROUP BY 1, 2 ORDER BY strategy, file_id""".stripMargin)),

    // FUNNEL CONVERSION LATENCY (x131) — q43 answers "who converted";
    // this answers "how fast": for fully-converted users, the
    // view→purchase latency distribution as exact order statistics
    // (p50/p90/max seconds, the x106 ceil-rank discipline — never
    // percentile_approx). Reuses q43's one-pass stacked-window funnel
    // shape verbatim; the latency ranking runs over the CONVERTED subset
    // only (a bounded fraction of users), one single-partition window on
    // that reduced frame — the documented tiny-frame exception; output
    // is ONE row.
    QueryDef(
      "x131_funnel_latency",
      (s, d) => {
        val day = 86400000000L
        val wU = Window.partitionBy("user_id")
        val conv = events(s, d).select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("t1",
            min(when(col("event_type") === "view", col("us"))).over(wU))
          .withColumn("t2",
            min(when(col("event_type") === "click" &&
              col("us") > col("t1") && col("us") <= col("t1") + day,
              col("us"))).over(wU))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" &&
              col("us") > col("t2") && col("us") <= col("t2") + day,
              col("us"))).over(wU))
          .groupBy("user_id")
          .agg(max(col("t1")).as("t1"), max(col("t3")).as("t3"))
          .filter(col("t3").isNotNull)
          .withColumn("lat_s", expr("(t3 - t1) div 1000000"))
        conv
          .withColumn("rn", row_number().over(
            Window.orderBy(col("lat_s"), col("user_id"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
          .agg(
            expr("CAST(max(n) AS BIGINT) AS n_converted"),
            expr("CAST(max(CASE WHEN rn = (n + 1) div 2 THEN lat_s END) " +
              "AS BIGINT) AS p50_s"),
            expr("CAST(max(CASE WHEN rn = (9 * n + 9) div 10 THEN lat_s END) " +
              "AS BIGINT) AS p90_s"),
            expr("CAST(max(lat_s) AS BIGINT) AS max_s"))
      },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
             |w AS (SELECT user_id,
             |  min(CASE WHEN event_type = 'view' THEN us END)
             |    OVER (PARTITION BY user_id) AS t1, us, event_type FROM e),
             |w2 AS (SELECT user_id, t1,
             |  min(CASE WHEN event_type = 'click' AND us > t1
             |    AND us <= t1 + 86400000000 THEN us END)
             |    OVER (PARTITION BY user_id) AS t2, us, event_type FROM w),
             |w3 AS (SELECT user_id, t1,
             |  min(CASE WHEN event_type = 'purchase' AND us > t2
             |    AND us <= t2 + 86400000000 THEN us END)
             |    OVER (PARTITION BY user_id) AS t3 FROM w2),
             |conv AS (SELECT user_id, (max(t3) - max(t1)) // 1000000 AS lat_s
             |  FROM w3 GROUP BY 1 HAVING max(t3) IS NOT NULL),
             |r AS (SELECT lat_s,
             |  row_number() OVER (ORDER BY lat_s, user_id) AS rn,
             |  count(*) OVER () AS n FROM conv)
             |SELECT CAST(max(n) AS BIGINT) AS n_converted,
             |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lat_s END) AS BIGINT) AS p50_s,
             |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN lat_s END) AS BIGINT)
             |    AS p90_s,
             |  CAST(max(lat_s) AS BIGINT) AS max_s
             |FROM r""".stripMargin)),

    // DEDUP THRESHOLD SENSITIVITY (x132) — the tuning sweep behind
    // choosing a near-dup Jaccard cutoff: over the LSH candidate pairs,
    // how many pairs survive EXACT verification at τ ∈ {0.6, 0.7, 0.8,
    // 0.9}, and what precision the candidate stage had at each τ. x78
    // audits the ESTIMATOR's error; this audits the DECISION's volume —
    // together they answer "which τ, and can I trust banding to find
    // it". All-integer: exact Jaccard as (i_size, u_size) rationals,
    // acceptance by cross-multiplication (100·i ≥ τ%·u); the candidate
    // frame and shingle sets are computed once (checkpoint discipline);
    // the τ fan-out is a 4-row broadcast over the bounded verified-pair
    // frame; output is 4 rows.
    QueryDef(
      "x132_threshold_sweep",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val cand = graft.ops.TextDedup.lshCandidatePairs(corpus)
          .filter(col("n_match") >= 4)
          .select("a_id", "b_id")
        val sets = corpus
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"),
            array_distinct(graft.ops.TextDedup.shingles(col("tk"))).as("shs"))
          .localCheckpoint(true) // both verification sides read one frame
        val verified = cand
          .join(sets.select(col("doc_id").as("a_id"), col("shs").as("a_shs")),
            Seq("a_id"))
          .join(sets.select(col("doc_id").as("b_id"), col("shs").as("b_shs")),
            Seq("b_id"))
          .withColumn("i",
            size(array_intersect(col("a_shs"), col("b_shs"))).cast(LongType))
          .withColumn("u", size(col("a_shs")).cast(LongType) +
            size(col("b_shs")).cast(LongType) - col("i"))
          .select("a_id", "b_id", "i", "u")
          .localCheckpoint(true) // 4 τ rows aggregate the same frame
        val taus = (0 to 3).map(k => 60 + 10 * k)
        taus.map { t =>
          verified.agg(
            lit(t.toLong).as("tau_pct"),
            count(lit(1)).cast(LongType).as("n_candidates"),
            sum(when(col("i") * 100 >= col("u") * t, 1L).otherwise(0L))
              .cast(LongType).as("n_accepted"))
            .withColumn("precision_ppm",
              expr("CAST(n_accepted * 1000000 div n_candidates AS BIGINT)"))
        }.reduce(_ unionByName _).orderBy("tau_pct")
      },
      Some(s"""WITH $corpusSql,
             |${minhashSigSql("corpus")},
             |band AS (SELECT doc_id, CAST(floor(seed / 2) AS BIGINT) AS band,
             |  min(mh) || '|' || max(mh) AS bsig FROM sig GROUP BY 1, 2),
             |cd AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
             |  JOIN band b ON a.band = b.band AND a.bsig = b.bsig
             |    AND a.doc_id < b.doc_id),
             |pm AS (SELECT cd.a_id, cd.b_id,
             |  count(CASE WHEN sa.mh = sb.mh THEN 1 END) AS n_match
             |  FROM cd JOIN sig sa ON sa.doc_id = cd.a_id
             |  JOIN sig sb ON sb.doc_id = cd.b_id AND sb.seed = sa.seed
             |  GROUP BY 1, 2 HAVING count(CASE WHEN sa.mh = sb.mh THEN 1 END) >= 4),
             |sets AS (SELECT doc_id, list_distinct($shinglesSql) AS shs
             |  FROM toks WHERE len(tk) >= 3),
             |v AS (SELECT pm.a_id, pm.b_id,
             |  CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS i,
             |  CAST(len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))
             |    AS BIGINT) AS u
             |  FROM pm JOIN sets a ON pm.a_id = a.doc_id
             |  JOIN sets b ON pm.b_id = b.doc_id),
             |taus AS (SELECT unnest([60, 70, 80, 90]) AS tau_pct)
             |SELECT CAST(tau_pct AS BIGINT) AS tau_pct,
             |  CAST(count(*) AS BIGINT) AS n_candidates,
             |  CAST(sum(CASE WHEN i * 100 >= u * tau_pct THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_accepted,
             |  CAST(sum(CASE WHEN i * 100 >= u * tau_pct THEN 1 ELSE 0 END)
             |    * 1000000 // count(*) AS BIGINT) AS precision_ppm
             |FROM v CROSS JOIN taus GROUP BY tau_pct ORDER BY tau_pct""".stripMargin)),

    // GIF LOCAL-COLOR-TABLE RESOLUTION (x133) — closes the decoder-scope
    // gap x103 documented: scraped GIF corpora carry per-image LOCAL color
    // tables (GIF89a §20), which must override the global table, and blobs
    // with NO global table must still decode via their local one. x103
    // gates the LZW index plane; this gates the PALETTE the decoder
    // resolved — four populations over the same 51-bit code stream:
    // kind 0 global-only (palette = the global literal), kind 1 global +
    // local (the doc-parameterized local wins), kind 2 local-only (header
    // declares no global table), kind 3 a structurally broken local table
    // (declares 256 entries the blob cannot hold) that must route to the
    // fake decoder, not throw. Paired construction: both engines build the
    // blob hex from the same per-doc arithmetic; DuckDB predicts palette
    // and plane in closed form without parsing. Narrow per-row flatMap —
    // the x103 scale shape (blobs parallelize perfectly, zero shuffle
    // before the final sort).
    QueryDef(
      "x133_gif_local_palette",
      (s, d) => {
        // x103 kind-0 stream: CLEAR p0 CLEAR p1 … CLEAR p7 EOI — 17 3-bit
        // codes = 51 bits LSB-first in 7 bytes; pixel i = (doc*7+i*5+3)%4
        val i_ = "(b * 8 + t)"
        val cj = s"(CASE WHEN ($i_ div 3) = 16 THEN 5 WHEN ($i_ div 3) % 2 = 0 THEN 4 " +
          s"ELSE (doc_id * 7 + ((($i_ div 3) - 1) div 2) * 5 + 3) % 4 END)"
        val bit = s"(($cj div (CASE $i_ % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END)) % 2)"
        val pw = "(CASE t WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8 " +
          "WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64 ELSE 128 END)"
        val byteExpr = "aggregate(sequence(CAST(0 AS BIGINT), 7), CAST(0 AS BIGINT), " +
          s"(acc, t) -> acc + CASE WHEN b * 8 + t >= 51 THEN 0 ELSE $bit * $pw END)"
        val lpal = "array_join(transform(sequence(CAST(0 AS BIGINT), 3), k -> " +
          s"concat(${hbS("(doc_id * 11 + k * 17) % 256")}, " +
          s"${hbS("(doc_id * 7 + k * 29) % 256")}, " +
          s"${hbS("(doc_id * 3 + k * 41) % 256")})), '')"
        val base = documents(s, d).filter(col("doc_id") < 48)
          .select(col("doc_id"), (col("doc_id") % 4).as("kind"))
          .withColumn("payload_hex",
            expr(s"array_join(transform(sequence(CAST(0 AS BIGINT), 6), b -> ${hbS(byteExpr)}), '')"))
          .withColumn("lpal_hex", expr(lpal))
          .withColumn("hx", expr(
            "concat('474946383961', '04000200', " +
              "CASE WHEN kind = 2 THEN '70' ELSE 'F1' END, '0000', " +
              "CASE WHEN kind = 2 THEN '' ELSE '0000005511AAAA5511FFEE33' END, " +
              "'2C', '00000000', '04000200', " +
              "CASE WHEN kind = 0 THEN '00' WHEN kind = 3 THEN '87' ELSE '81' END, " +
              "CASE WHEN kind = 0 THEN '' ELSE lpal_hex END, " +
              "'02', '07', payload_hex, '00', '3B')"))
        graft.ops.Multimodal.gifPalette(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .select(col("media_id"), col("format"), col("width"), col("height"),
            col("n_colors"), col("palette_hex"), col("pixel_hex"))
          .orderBy("media_id")
      },
      Some(s"""WITH b AS (SELECT doc_id, doc_id % 4 AS kind
             |  FROM documents WHERE doc_id < 48)
             |SELECT doc_id AS media_id,
             |  CASE WHEN kind = 3 THEN 'img/fake-gray' ELSE 'image/gif' END AS format,
             |  CAST(CASE WHEN kind = 3 THEN 23 ELSE 4 END AS BIGINT) AS width,
             |  CAST(CASE WHEN kind = 3 THEN 25 ELSE 2 END AS BIGINT) AS height,
             |  CAST(CASE WHEN kind = 3 THEN NULL ELSE 4 END AS BIGINT) AS n_colors,
             |  CASE WHEN kind = 3 THEN NULL
             |    WHEN kind = 0 THEN '0000005511AAAA5511FFEE33'
             |    ELSE array_to_string(list_transform(range(0, 4), k ->
             |      ${hbD("(doc_id * 11 + k * 17) % 256")} ||
             |      ${hbD("(doc_id * 7 + k * 29) % 256")} ||
             |      ${hbD("(doc_id * 3 + k * 41) % 256")}), '')
             |  END AS palette_hex,
             |  CASE WHEN kind = 3 THEN NULL
             |    ELSE array_to_string(list_transform(range(0, 8),
             |      i -> ${hbD("(doc_id * 7 + i * 5 + 3) % 4")}), '')
             |  END AS pixel_hex
             |FROM b ORDER BY media_id""".stripMargin)),

    // MJPEG FRAME DECODE FROM MP4 SAMPLES (x134) — the video-payload
    // composition the metadata walk stopped short of: x111 reads box
    // METADATA; this walks the SAMPLE TABLES (stsz sizes + stco chunk
    // offsets, ISO/IEC 14496-12 §8.7) to locate each video sample inside
    // mdat and runs motion-JPEG samples through the REAL baseline JPEG
    // decoder (x101's Huffman/IDCT path) — MJPEG is exactly "every sample
    // an independent baseline JPEG", so the two proven pure-Scala pieces
    // compose with no new codec work (ops.Mp4Samples). Fixture: 1–3
    // samples per doc, each x101's kind-0 DC-only 8×8 gray stream whose
    // decoded plane is EXACTLY 128+v (integer end to end); every 5th doc's
    // first sample has a broken SOI marker — the frame must be FLAGGED
    // (decode_ok false, null pixels) while its siblings decode; the sample
    // table itself (one chunk, consecutive samples) exercises the
    // cumulative-offset layout. DuckDB predicts offsets, sizes, and planes
    // arithmetically without parsing. Narrow per-row flatMap; zero shuffle
    // before the final sort.
    QueryDef(
      "x134_mjpeg_frames",
      (s, d) => {
        val nS = "(1 + doc_id % 3)"
        val vI = "(32 + (doc_id + 7 * i) % 32)"
        val sampleHex = "concat(" +
          "CASE WHEN doc_id % 5 = 4 AND i = 0 THEN 'FFD7' ELSE 'FFD8' END, " +
          "'FFDB004300', '08', repeat('01', 63), " +
          "'FFC0000B08', '0008', '0008', '01', '011100', " +
          "'FFC4001500', '0002', repeat('00', 14), '0006', " +
          "'FFC4001410', '000000000001', repeat('00', 10), '00', " +
          s"'FFDA000801', '0100', '003F00', ${hbS(s"64 + $vI")}, '03', 'FFD9')"
        val samples =
          s"array_join(transform(sequence(CAST(0 AS BIGINT), $nS - 1), i -> $sampleHex), '')"
        // 143-byte samples (0x8F); boxes: stsz 20+4n, stco 20, stbl 48+4n,
        // minf/mdia/trak +8 each, moov 80+4n; mdat payload starts 104+4n
        val stsz = s"concat(${be32S(s"20 + 4 * $nS")}, '7374737A', '00000000', " +
          s"'00000000', ${be32S(nS)}, repeat('0000008F', CAST($nS AS INT)))"
        val stco = s"concat('00000014', '7374636F', '00000000', '00000001', " +
          s"${be32S(s"104 + 4 * $nS")})"
        val moov = s"concat(${be32S(s"80 + 4 * $nS")}, '6D6F6F76', " +
          s"${be32S(s"72 + 4 * $nS")}, '7472616B', ${be32S(s"64 + 4 * $nS")}, " +
          s"'6D646961', ${be32S(s"56 + 4 * $nS")}, '6D696E66', " +
          s"${be32S(s"48 + 4 * $nS")}, '7374626C', $stsz, $stco)"
        val mdat = s"concat(${be32S(s"8 + 143 * $nS")}, '6D646174', $samples)"
        val base = documents(s, d).filter(col("doc_id") < 24)
          .select(col("doc_id"))
          .withColumn("hx", expr(
            s"concat('00000010', '66747970', '6D6A7067', '00000000', $moov, $mdat)"))
        graft.ops.Mp4Samples.mjpegFrames(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .select(col("media_id"), col("sample_idx"), col("sample_offset"),
            col("sample_size"), col("decode_ok"), col("width"), col("height"),
            col("pixel_hex"))
          .orderBy("media_id", "sample_idx")
      },
      Some(s"""WITH b AS (SELECT doc_id, 1 + doc_id % 3 AS n
             |  FROM documents WHERE doc_id < 24),
             |f AS (SELECT doc_id, n, unnest(range(0, 3)) AS i FROM b)
             |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS sample_idx,
             |  CAST(104 + 4 * n + 143 * i AS BIGINT) AS sample_offset,
             |  CAST(143 AS BIGINT) AS sample_size,
             |  NOT (doc_id % 5 = 4 AND i = 0) AS decode_ok,
             |  CAST(CASE WHEN doc_id % 5 = 4 AND i = 0 THEN NULL ELSE 8 END
             |    AS BIGINT) AS width,
             |  CAST(CASE WHEN doc_id % 5 = 4 AND i = 0 THEN NULL ELSE 8 END
             |    AS BIGINT) AS height,
             |  CASE WHEN doc_id % 5 = 4 AND i = 0 THEN NULL
             |    ELSE repeat(${hbD("160 + (doc_id + 7 * i) % 32")}, 64)
             |  END AS pixel_hex
             |FROM f WHERE i < n ORDER BY media_id, sample_idx""".stripMargin)),

    // MP3 FRAME WALK (x135) — the audio-stream counterpart of x105/x134's
    // container walks and the step past x46's single-header probe: walk
    // EVERY MPEG-1 Layer III frame (length = 144·bitrate/rate + padding,
    // the public ISO/IEC 11172-3 header tables), skip a syncsafe ID3v2
    // prefix, read the de-facto Xing VBR tag after the first frame's side
    // info, and report what audio curation actually needs without a PCM
    // decode: frame count, CBR/VBR, bitrate range, byte accounting, exact
    // integer duration, and a clean/dirty tail flag. Three populations:
    // CBR with REAL per-frame padding drift (44100 Hz streams pad
    // unevenly), VBR with a Xing tag (bitrate varies per frame), and an
    // ID3v2-prefixed stream with trailing garbage the walk must FLAG
    // (clean_tail false) while keeping every parsed frame. DuckDB predicts
    // all statistics arithmetically from the same per-frame formulas.
    // Narrow per-row map; zero shuffle before the final sort.
    QueryDef(
      "x135_mp3_frame_walk",
      (s, d) => {
        def kb(bri: String) = s"(CASE CAST($bri AS INT) WHEN 1 THEN 32 " +
          "WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56 WHEN 5 THEN 64 " +
          "WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128 " +
          "WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224 " +
          "WHEN 13 THEN 256 ELSE 320 END)"
        val briF = "(1 + (doc_id + 5 * f) % 14)" // kind-1 per-frame bitrate
        val padF = "(CASE WHEN kind = 1 THEN 0 ELSE (doc_id + f) % 2 END)"
        val briAny = s"(CASE WHEN kind = 1 THEN $briF ELSE bri0 END)"
        val fbF = s"(144 * ${kb(briAny)} * 1000 div rate + $padF)"
        val hdrF = s"concat('FFFB', ${hbS(s"$briAny * 16 + sri * 4 + $padF * 2")}, '00')"
        val frameF = s"CASE WHEN kind = 1 AND f = 0 THEN " +
          s"concat($hdrF, repeat('00', 32), '58696E67', '00000001', " +
          s"${be32S("n")}, repeat('00', CAST($fbF - 48 AS INT))) " +
          s"ELSE concat($hdrF, repeat('00', CAST($fbF - 4 AS INT))) END"
        val framesHex =
          s"array_join(transform(sequence(CAST(0 AS BIGINT), n - 1), f -> $frameF), '')"
        val base = documents(s, d).filter(col("doc_id") < 24)
          .select(col("doc_id"), (col("doc_id") % 3).as("kind"),
            expr("2 + doc_id % 4").as("n"),
            expr("(doc_id div 3) % 3").as("sri"),
            expr("1 + doc_id % 14").as("bri0"))
          .withColumn("rate", expr(
            "CAST(CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS BIGINT)"))
          .withColumn("hx", expr(
            s"concat(CASE WHEN kind = 2 THEN concat('494433', '0400', '00', " +
              s"'000000', ${hbS("doc_id % 40")}, repeat('00', CAST(doc_id % 40 AS INT))) " +
              s"ELSE '' END, $framesHex, " +
              "CASE WHEN kind = 2 THEN 'FFFF' ELSE '' END)"))
        graft.ops.Mp3Frames.walk(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .select(col("media_id"), col("n_frames"), col("sample_rate"),
            col("channels"), col("is_cbr"), col("bitrate_kbps_min"),
            col("bitrate_kbps_max"), col("total_frame_bytes"),
            col("duration_ms"), col("xing_frames"), col("clean_tail"))
          .orderBy("media_id")
      },
      Some("""WITH b AS (SELECT doc_id, doc_id % 3 AS kind, 2 + doc_id % 4 AS n,
             |  (doc_id // 3) % 3 AS sri, 1 + doc_id % 14 AS bri0
             |  FROM documents WHERE doc_id < 24),
             |r AS (SELECT *, CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000
             |  ELSE 32000 END AS rate FROM b),
             |fr AS (SELECT doc_id, kind, n, rate, f,
             |  CASE WHEN kind = 1 THEN 1 + (doc_id + 5 * f) % 14 ELSE bri0 END AS bri,
             |  CASE WHEN kind = 1 THEN 0 ELSE (doc_id + f) % 2 END AS pad
             |  FROM r CROSS JOIN (SELECT unnest(range(0, 6)) AS f) WHERE f < n),
             |fb AS (SELECT doc_id, kind, n, rate, f, pad,
             |  CASE bri WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
             |    WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
             |    WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
             |    WHEN 13 THEN 256 ELSE 320 END AS kb FROM fr)
             |SELECT doc_id AS media_id,
             |  CAST(max(n) AS BIGINT) AS n_frames,
             |  CAST(max(rate) AS BIGINT) AS sample_rate,
             |  CAST(2 AS BIGINT) AS channels,
             |  max(kind) <> 1 AS is_cbr,
             |  CAST(min(kb) AS BIGINT) AS bitrate_kbps_min,
             |  CAST(max(kb) AS BIGINT) AS bitrate_kbps_max,
             |  CAST(sum(144 * kb * 1000 // rate + pad) AS BIGINT) AS total_frame_bytes,
             |  CAST(max(n) * 1152 * 1000 // max(rate) AS BIGINT) AS duration_ms,
             |  CAST(CASE WHEN max(kind) = 1 THEN max(n) END AS BIGINT) AS xing_frames,
             |  max(kind) <> 2 AS clean_tail
             |FROM fb GROUP BY doc_id ORDER BY media_id""".stripMargin)),

    // MP3 LAYER III SIDE-INFO DECODE (x136) — the granule structure one
    // level below x135's frame walk and the entry gate of any Layer III
    // decoder (ISO/IEC 11172-3 §2.4.1.7): the bit-reservoir back-pointer
    // (main_data_begin, validated against the bytes the reservoir actually
    // holds), per-granule Huffman bit budgets (part2_3_length, big_values),
    // window switching/block types, and global_gain — a direct LOUDNESS
    // signal audio curation can rank on without any PCM decode. Paired
    // construction at the BIT level: both engines assemble the 256-bit
    // stereo side info from the same per-(frame, granule, channel) field
    // arithmetic (x103's bit-packing discipline, MSB-first this time);
    // Spark packs it into real frames and re-parses through ops.Mp3Frames;
    // DuckDB predicts every field and the reservoir verdict arithmetically.
    // First frames carry a 9-bit back-pointer into an EMPTY reservoir
    // (flagged unless 0); later frames point within-or-past the 60-byte
    // floor the smallest fixture frame accrues — both verdicts occur.
    // Narrow per-row flatMap; zero shuffle before the final sort.
    QueryDef(
      "x136_mp3_side_info",
      (s, d) => {
        def gcE(g: Int, c: Int): String = {
          val p23 = s"((100 + doc_id * 13 + f * 7 + $g * 3 + $c) % 4096)"
          val big = s"((doc_id * 5 + f + 2 * $g + $c) % 289)"
          val gain = s"((doc_id * 11 + f * 5 + $g * 2 + 3 * $c) % 256)"
          val scomp = s"((doc_id + $g) % 16)"
          val wsf = s"((doc_id + f + $g + $c) % 2)"
          val bt = s"(1 + (doc_id + $g + 2 * $c) % 3)"
          val rb = s"(CASE WHEN $wsf = 1 THEN $bt * 1048576 + " +
            s"(doc_id % 32) * 32768 + ((doc_id * 3) % 32) * 1024 " +
            s"ELSE (doc_id % 32) * 131072 + ((doc_id * 3) % 32) * 4096 + " +
            s"((doc_id * 5) % 32) * 128 + (doc_id % 16) * 8 + doc_id % 8 END)"
          val t3 = s"((doc_id + f + $g + $c) % 8)"
          s"($p23 * 140737488355328 + $big * 274877906944 + $gain * 1073741824 + " +
            s"$scomp * 67108864 + $wsf * 33554432 + $rb * 8 + $t3)"
        }
        val mdb = "(CASE WHEN f = 0 THEN (doc_id * 7) % 512 " +
          "ELSE (doc_id * 3 + f) % 64 END)"
        val scfsi = "(doc_id % 256)"
        val j = "(k * 8 + t)"
        val bit = s"(CASE WHEN $j < 9 THEN shiftright($mdb, CAST(8 - $j AS INT)) " +
          s"WHEN $j < 12 THEN 0 " +
          s"WHEN $j < 20 THEN shiftright($scfsi, CAST(19 - $j AS INT)) " +
          s"WHEN $j < 79 THEN shiftright(${gcE(0, 0)}, CAST(78 - $j AS INT)) " +
          s"WHEN $j < 138 THEN shiftright(${gcE(0, 1)}, CAST(137 - $j AS INT)) " +
          s"WHEN $j < 197 THEN shiftright(${gcE(1, 0)}, CAST(196 - $j AS INT)) " +
          s"ELSE shiftright(${gcE(1, 1)}, CAST(255 - $j AS INT)) END % 2)"
        val byteE = "aggregate(sequence(CAST(0 AS BIGINT), 7), CAST(0 AS BIGINT), " +
          s"(acc, t) -> acc * 2 + $bit)"
        val sideHex =
          s"array_join(transform(sequence(CAST(0 AS BIGINT), 31), k -> ${hbS(byteE)}), '')"
        val frameF = s"concat('FFFB', ${hbS("bri0 * 16 + sri * 4")}, '00', " +
          s"$sideHex, repeat('00', CAST(fb - 36 AS INT)))"
        val base = documents(s, d).filter(col("doc_id") < 24)
          .select(col("doc_id"), expr("2 + doc_id % 3").as("n"),
            expr("(doc_id div 3) % 3").as("sri"),
            expr("1 + doc_id % 14").as("bri0"))
          .withColumn("rate", expr(
            "CAST(CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS BIGINT)"))
          .withColumn("fb", expr(
            "144 * (CASE CAST(bri0 AS INT) WHEN 1 THEN 32 WHEN 2 THEN 40 " +
              "WHEN 3 THEN 48 WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80 " +
              "WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128 WHEN 10 THEN 160 " +
              "WHEN 11 THEN 192 WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END) " +
              "* 1000 div rate"))
          .withColumn("hx", expr(
            s"array_join(transform(sequence(CAST(0 AS BIGINT), n - 1), f -> $frameF), '')"))
        graft.ops.Mp3Frames.sideInfo(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .select(col("media_id"), col("frame_idx"), col("granule"), col("channel"),
            col("main_data_begin"), col("reservoir_ok"), col("part2_3_length"),
            col("big_values"), col("global_gain"), col("block_type"))
          .orderBy("media_id", "frame_idx", "granule", "channel")
      },
      Some("""WITH b AS (SELECT doc_id, 2 + doc_id % 3 AS n, (doc_id // 3) % 3 AS sri,
             |  1 + doc_id % 14 AS bri0 FROM documents WHERE doc_id < 24),
             |r AS (SELECT *,
             |  CASE sri WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS rate,
             |  CASE bri0 WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
             |    WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
             |    WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
             |    WHEN 13 THEN 256 ELSE 320 END AS kb FROM b),
             |fbx AS (SELECT *, 144 * kb * 1000 // rate AS fb FROM r),
             |g AS (SELECT doc_id, n, fb, f, gr, c,
             |  CASE WHEN f = 0 THEN (doc_id * 7) % 512
             |    ELSE (doc_id * 3 + f) % 64 END AS mdb,
             |  (doc_id + f + gr + c) % 2 AS wsf
             |  FROM fbx
             |  CROSS JOIN (SELECT unnest(range(0, 4)) AS f)
             |  CROSS JOIN (SELECT unnest(range(0, 2)) AS gr)
             |  CROSS JOIN (SELECT unnest(range(0, 2)) AS c)
             |  WHERE f < n)
             |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(gr AS BIGINT) AS granule, CAST(c AS BIGINT) AS channel,
             |  CAST(mdb AS BIGINT) AS main_data_begin,
             |  mdb <= least(511, f * (fb - 36)) AS reservoir_ok,
             |  CAST((100 + doc_id * 13 + f * 7 + gr * 3 + c) % 4096 AS BIGINT)
             |    AS part2_3_length,
             |  CAST((doc_id * 5 + f + 2 * gr + c) % 289 AS BIGINT) AS big_values,
             |  CAST((doc_id * 11 + f * 5 + gr * 2 + 3 * c) % 256 AS BIGINT)
             |    AS global_gain,
             |  CAST(CASE WHEN wsf = 1 THEN 1 + (doc_id + gr + 2 * c) % 3
             |    ELSE 0 END AS BIGINT) AS block_type
             |FROM g ORDER BY media_id, frame_idx, granule, channel""".stripMargin)),

    // DIFFERENTIALLY-PRIVATE COUNT RELEASE (x137) — the third privacy
    // pillar after k-anonymity (x84) and l-diversity (x110): per-group
    // counts released under the discrete (two-sided-geometric) Laplace
    // mechanism — Ghosh/Roughgarden/Sundararajan's universally-optimal
    // integer mechanism — at ε = ln 2, where α = e^-ε = 1/2 makes every
    // inverse-CDF threshold an EXACT power of two: the whole mechanism is
    // integer arithmetic, no float parity risk. The "randomness" is a
    // deterministic per-group draw (md5 of a salted group key → 24 bits,
    // folded into [0, 3·2^20)), so release is reproducible and the paired
    // oracle re-derives it — this is the calibration AUDIT view (true
    // count, noise, released count side by side); a production release
    // drops n_true and swaps in a sampled draw. Sensitivity 1 (each doc
    // contributes one count). Scale: ONE partial-combined lang rollup; the
    // mechanism is narrow arithmetic on the |langs|-bounded frame.
    QueryDef(
      "x137_dp_release",
      (s, d) => {
        // |N|=k with prob (1/3)·2^-(k-1)·... : m < 2^20 - 2^(20-k) → k
        def magCase(m: String) = (1 to 20).map { k =>
          s"WHEN $m < ${(1L << 20) - (1L << (20 - k))} THEN $k"
        }.mkString("(CASE ", " ", " ELSE 21 END)")
        documents(s, d)
          .groupBy("lang").agg(count(lit(1)).cast(LongType).as("n_true"))
          .withColumn("hx", expr("substring(md5(concat('dp7:', lang)), 1, 6)"))
          .withColumn("v", expr("CAST(conv(hx, 16, 10) AS BIGINT) % 3145728"))
          .withColumn("noise", expr(
            "CAST(CASE WHEN v < 1048576 THEN 0 ELSE " +
              "(CASE WHEN (v - 1048576) % 2 = 0 THEN 1 ELSE -1 END) * " +
              s"${magCase("((v - 1048576) div 2)")} END AS BIGINT)"))
          .select(col("lang"), col("n_true"), col("noise"),
            greatest(lit(0L), col("n_true") + col("noise")).as("n_released"))
          .orderBy("lang")
      },
      Some {
        def magCase(m: String) = (1 to 20).map { k =>
          s"WHEN $m < ${(1L << 20) - (1L << (20 - k))} THEN $k"
        }.mkString("(CASE ", " ", " ELSE 21 END)")
        val hex6 = (0 until 6).map(k =>
          s"(instr('0123456789abcdef', substr(hx, ${k + 1}, 1)) - 1) * ${1L << (4 * (5 - k))}")
          .mkString("(", " + ", ")")
        s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_true
           |  FROM documents GROUP BY 1),
           |h AS (SELECT lang, n_true, substring(md5('dp7:' || lang), 1, 6) AS hx
           |  FROM c),
           |vv AS (SELECT lang, n_true, $hex6 % 3145728 AS v FROM h)
           |SELECT lang, n_true,
           |  CAST(CASE WHEN v < 1048576 THEN 0 ELSE
           |    (CASE WHEN (v - 1048576) % 2 = 0 THEN 1 ELSE -1 END) *
           |    ${magCase("((v - 1048576) // 2)")} END AS BIGINT) AS noise,
           |  CAST(greatest(0, n_true + CASE WHEN v < 1048576 THEN 0 ELSE
           |    (CASE WHEN (v - 1048576) % 2 = 0 THEN 1 ELSE -1 END) *
           |    ${magCase("((v - 1048576) // 2)")} END) AS BIGINT) AS n_released
           |FROM vv ORDER BY lang""".stripMargin
      }),

    // CHAT-CONVERSATION PACKING WITH LOSS-MASK ACCOUNTING (x138) — the
    // whole-item counterpart of x48's span-splitting packing, and the
    // SFT-training batch-assembly shape: conversations (4-turn groups of
    // documents, alternating user/assistant roles) must land WHOLE in a
    // ≤1024-token bin, so bin assignment carries true NEXT-FIT reset state
    // (used + size > capacity → new bin) that no closed-form window
    // expresses. ops.BinPacking runs the canonical Spark idiom for per-key
    // sequential state — one repartition on source, secondary sort by
    // conv_id, narrow mapPartitions state machine resetting on key change;
    // the oracle replays the same next-fit chain in a recursive CTE, so
    // the sequential semantics are engine-differentially checked, not just
    // spec'd. Per bin: conversations, total tokens, LEARN tokens
    // (assistant turns) vs MASKED tokens (user turns) — the loss-mask
    // budget SFT dataloaders report — and fill ppm (oversize conversations
    // overflow their own bin, visible as fill > 1e6). Scale: parallelism
    // is per source (a 100 TB run shards the key further, e.g. (source,
    // day) — the op doc pins this); the conv rollup and bin rollup
    // partial-combine; nothing but the one source exchange moves data.
    QueryDef(
      "x138_chat_packing",
      (s, d) => {
        val convs = documents(s, d)
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast(LongType).as("n_tok"))
          .withColumn("conv_id", expr("doc_id div 4"))
          .groupBy("conv_id")
          .agg(min(col("source")).as("source"),
            sum(col("n_tok")).cast(LongType).as("sz"),
            sum(when(expr("doc_id % 2 = 1"), col("n_tok")).otherwise(0L))
              .cast(LongType).as("learn"))
        graft.ops.BinPacking
          .nextFit(convs.select("source", "conv_id", "sz", "learn"),
            "source", "conv_id", "sz", 1024L)
          .groupBy("source", "bin")
          .agg(count(lit(1)).cast(LongType).as("n_convs"),
            sum(col("sz")).cast(LongType).as("n_tokens"),
            sum(col("learn")).cast(LongType).as("n_learn"))
          .withColumn("n_mask", (col("n_tokens") - col("n_learn")).cast(LongType))
          .withColumn("fill_ppm", expr("CAST(n_tokens * 1000000 div 1024 AS BIGINT)"))
          .orderBy("source", "bin")
      },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, source,
             |  CAST(len($tokensSql) AS BIGINT) AS n_tok FROM documents),
             |c AS (SELECT doc_id // 4 AS conv_id, min(source) AS source,
             |  CAST(sum(n_tok) AS BIGINT) AS sz,
             |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_tok ELSE 0 END) AS BIGINT)
             |    AS learn
             |  FROM t GROUP BY 1),
             |o AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY conv_id)
             |  AS rn FROM c),
             |rec AS (
             |  SELECT source, rn, conv_id, sz, learn, CAST(0 AS BIGINT) AS bin,
             |    sz AS used FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.source, o.rn, o.conv_id, o.sz, o.learn,
             |    CASE WHEN r.used + o.sz > 1024 THEN r.bin + 1 ELSE r.bin END,
             |    CASE WHEN r.used + o.sz > 1024 THEN o.sz ELSE r.used + o.sz END
             |  FROM rec r JOIN o ON o.source = r.source AND o.rn = r.rn + 1)
             |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_convs,
             |  CAST(sum(sz) AS BIGINT) AS n_tokens,
             |  CAST(sum(learn) AS BIGINT) AS n_learn,
             |  CAST(sum(sz - learn) AS BIGINT) AS n_mask,
             |  CAST(sum(sz) * 1000000 // 1024 AS BIGINT) AS fill_ppm
             |FROM rec GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),

    // CHANCE-CORRECTED AGREEMENT / COHEN'S KAPPA (x139) — the eval-pipeline
    // statistic x98's confusion matrix stops short of: raw accuracy
    // (p_observed) overstates a classifier or annotator on skewed label
    // distributions; kappa corrects by the agreement two independent
    // raters with these MARGINALS would reach by chance. Rides x08/x98's
    // langid prediction against the gold lang column, so the "two raters"
    // are model-vs-truth — the same computation scores annotator pairs.
    // Exact: N, diagonal, and Σ row·col marginal products are BIGINTs from
    // ONE |langs|²-bounded confusion frame (localCheckpoint — three
    // consumers must not re-scan the corpus, x112's lesson); po/pe as
    // integer ppm; kappa itself is ONE IEEE division of two
    // exactly-equal BIGINTs (q62's discipline), rounded once. The N²
    // term is fine up to ~3·10⁹ rows; past that a production run divides
    // in ppm space first (the marginal frame stays |langs|-bounded either
    // way). Scale: one corpus pass → one partial-combined (lang, pred)
    // rollup; everything after runs on the ≤|langs|² frame.
    QueryDef(
      "x139_kappa_agreement",
      (s, d) => {
        val en = Seq("the", "a", "of", "and", "to")
        val de = Seq("der", "die", "das", "und", "ist")
        val fr = Seq("le", "la", "les", "et", "est")
        val es = Seq("el", "los", "las", "y", "es")
        val pred = documents(s, d)
          .select(col("lang"), tokens(col("text")).as("tk"))
          .withColumn("__sc",
            graft.functions.TokenSetCounts.counts(col("tk"), Seq(en, de, fr, es)))
          .withColumn("pred_lang",
            when(col("__sc")(0) >= col("__sc")(1) && col("__sc")(0) >= col("__sc")(2)
              && col("__sc")(0) >= col("__sc")(3), "en")
              .when(col("__sc")(1) >= col("__sc")(2) && col("__sc")(1) >= col("__sc")(3), "de")
              .when(col("__sc")(2) >= col("__sc")(3), "fr")
              .otherwise("es"))
        val cm = pred.groupBy("lang", "pred_lang")
          .agg(count(lit(1)).cast(LongType).as("n"))
          .localCheckpoint(true) // three consumers read ONE materialization
        val totals = cm.agg(
          sum(col("n")).cast(LongType).as("n"),
          sum(when(col("lang") === col("pred_lang"), col("n")).otherwise(0L))
            .cast(LongType).as("n_agree"))
        val rows = cm.groupBy("lang").agg(sum(col("n")).as("r"))
        val cols = cm.groupBy("pred_lang").agg(sum(col("n")).as("c"))
        val rc = rows.join(cols, col("lang") === col("pred_lang"))
          .agg(coalesce(sum(col("r") * col("c")), lit(0L)).cast(LongType).as("src"))
        totals.crossJoin(broadcast(rc))
          .withColumn("po_ppm", expr("CAST(n_agree * 1000000 div n AS BIGINT)"))
          .withColumn("pe_ppm", expr("CAST(src * 1000000 div (n * n) AS BIGINT)"))
          .withColumn("kappa", round(
            expr("CAST(n * n_agree - src AS DOUBLE) / CAST(n * n - src AS DOUBLE)"), 6))
          .select("n", "n_agree", "po_ppm", "pe_ppm", "kappa")
      },
      Some(s"""WITH t AS (SELECT lang, $tokensSql AS tk FROM documents),
             |m AS (SELECT lang,
             |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS s_en,
             |  CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
             |  CAST(len(list_filter(tk, x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS s_fr,
             |  CAST(len(list_filter(tk, x -> x IN ('el','los','las','y','es'))) AS BIGINT) AS s_es
             |  FROM t),
             |p AS (SELECT lang,
             |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
             |       WHEN s_fr >= s_es THEN 'fr'
             |       ELSE 'es' END AS pred_lang FROM m),
             |cm AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
             |  FROM p GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT)
             |    AS n_agree FROM cm),
             |r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS r FROM cm GROUP BY 1),
             |c AS (SELECT pred_lang, CAST(sum(n) AS BIGINT) AS c FROM cm GROUP BY 1),
             |rc AS (SELECT CAST(coalesce(sum(r.r * c.c), 0) AS BIGINT) AS src
             |  FROM r JOIN c ON r.lang = c.pred_lang)
             |SELECT n, n_agree,
             |  CAST(n_agree * 1000000 // n AS BIGINT) AS po_ppm,
             |  CAST(src * 1000000 // (n * n) AS BIGINT) AS pe_ppm,
             |  round(CAST(n * n_agree - src AS DOUBLE)
             |    / CAST(n * n - src AS DOUBLE), 6) AS kappa
             |FROM tot CROSS JOIN rc""".stripMargin)),

    // SPAN-EXTRACTION MICRO-F1 (x140) — the second eval-family member
    // (x139 scores LABEL agreement; this scores SPAN extraction, the
    // NER/QA/grounding eval shape): per doc a gold token span and a
    // predicted span (shifted/resized deterministically from the doc's
    // own token count), scored micro-averaged — token-overlap TP summed
    // over docs, precision/recall/F1 by cross-multiplied integer ppm, plus
    // exact-match rate. ALL-integer (span bounds, overlaps, ppm ratios):
    // zero float parity surface. Scale: one narrow corpus pass computes
    // per-doc bounds from n_tok; the single-row rollup partial-combines;
    // nothing shuffles except the 1-row agg.
    QueryDef(
      "x140_span_f1",
      (s, d) => {
        documents(s, d)
          .select(col("doc_id"),
            size(tokens(col("text"))).cast(LongType).as("n_tok"))
          .withColumn("g_lo", expr("n_tok % 17"))
          .withColumn("g_hi", expr("g_lo + 3 + doc_id % 5"))
          .withColumn("p_lo", expr("greatest(0, g_lo + doc_id % 7 - 3)"))
          .withColumn("p_hi", expr("p_lo + 3 + (doc_id * 2) % 5"))
          .withColumn("ov", expr(
            "greatest(0, least(g_hi, p_hi) - greatest(g_lo, p_lo))"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum(col("ov")).cast(LongType).as("tp_tokens"),
            sum(expr("p_hi - p_lo")).cast(LongType).as("pred_tokens"),
            sum(expr("g_hi - g_lo")).cast(LongType).as("gold_tokens"),
            sum(expr("CASE WHEN p_lo = g_lo AND p_hi = g_hi THEN 1 ELSE 0 END"))
              .cast(LongType).as("n_exact"))
          .withColumn("precision_ppm",
            expr("CAST(tp_tokens * 1000000 div pred_tokens AS BIGINT)"))
          .withColumn("recall_ppm",
            expr("CAST(tp_tokens * 1000000 div gold_tokens AS BIGINT)"))
          .withColumn("f1_ppm", expr(
            "CAST(2 * tp_tokens * 1000000 div (pred_tokens + gold_tokens) AS BIGINT)"))
          .withColumn("exact_ppm",
            expr("CAST(n_exact * 1000000 div n_docs AS BIGINT)"))
          .select("n_docs", "tp_tokens", "pred_tokens", "gold_tokens", "n_exact",
            "precision_ppm", "recall_ppm", "f1_ppm", "exact_ppm")
      },
      Some(s"""WITH t AS (SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS n_tok
             |  FROM documents),
             |sp AS (SELECT doc_id, n_tok % 17 AS g_lo,
             |  n_tok % 17 + 3 + doc_id % 5 AS g_hi,
             |  greatest(0, n_tok % 17 + doc_id % 7 - 3) AS p_lo FROM t),
             |sp2 AS (SELECT *, p_lo + 3 + (doc_id * 2) % 5 AS p_hi FROM sp),
             |ov AS (SELECT *,
             |  greatest(0, least(g_hi, p_hi) - greatest(g_lo, p_lo)) AS ov FROM sp2),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(ov) AS BIGINT) AS tp_tokens,
             |  CAST(sum(p_hi - p_lo) AS BIGINT) AS pred_tokens,
             |  CAST(sum(g_hi - g_lo) AS BIGINT) AS gold_tokens,
             |  CAST(sum(CASE WHEN p_lo = g_lo AND p_hi = g_hi THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_exact FROM ov)
             |SELECT n_docs, tp_tokens, pred_tokens, gold_tokens, n_exact,
             |  CAST(tp_tokens * 1000000 // pred_tokens AS BIGINT) AS precision_ppm,
             |  CAST(tp_tokens * 1000000 // gold_tokens AS BIGINT) AS recall_ppm,
             |  CAST(2 * tp_tokens * 1000000 // (pred_tokens + gold_tokens) AS BIGINT)
             |    AS f1_ppm,
             |  CAST(n_exact * 1000000 // n_docs AS BIGINT) AS exact_ppm
             |FROM agg""".stripMargin)),

    // CONFIDENCE CALIBRATION BY MARGIN (x141) — the third eval-family
    // member: is the langid classifier's CONFIDENCE (its top-1 vs top-2
    // marker-count margin — an integer) predictive of its accuracy? The
    // reliability-diagram table behind ECE: bucket docs by margin (capped
    // at 10), per bucket the observed accuracy vs a fixed monotone
    // confidence mapping (500000 + margin·50000 ppm, capped at 1e6), and
    // the |acc − conf| gap — all integer ppm, zero float surface. The
    // top-2 margin comes from sorting the 4 marker counts (exact integer
    // sort both engines). Scale: the fused TokenSetCounts pass is the one
    // corpus scan; the margin rollup partial-combines into ≤11 rows.
    QueryDef(
      "x141_margin_calibration",
      (s, d) => {
        val en = Seq("the", "a", "of", "and", "to")
        val de = Seq("der", "die", "das", "und", "ist")
        val fr = Seq("le", "la", "les", "et", "est")
        val es = Seq("el", "los", "las", "y", "es")
        documents(s, d)
          .select(col("lang"), tokens(col("text")).as("tk"))
          .withColumn("__sc",
            graft.functions.TokenSetCounts.counts(col("tk"), Seq(en, de, fr, es)))
          .withColumn("pred_lang",
            when(col("__sc")(0) >= col("__sc")(1) && col("__sc")(0) >= col("__sc")(2)
              && col("__sc")(0) >= col("__sc")(3), "en")
              .when(col("__sc")(1) >= col("__sc")(2) && col("__sc")(1) >= col("__sc")(3), "de")
              .when(col("__sc")(2) >= col("__sc")(3), "fr")
              .otherwise("es"))
          .withColumn("sorted", expr("array_sort(__sc)"))
          .withColumn("margin", expr("least(sorted[3] - sorted[2], CAST(10 AS BIGINT))"))
          .groupBy("margin")
          .agg(count(lit(1)).cast(LongType).as("n"),
            sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
              .cast(LongType).as("n_correct"))
          .withColumn("acc_ppm", expr("CAST(n_correct * 1000000 div n AS BIGINT)"))
          .withColumn("conf_ppm",
            expr("CAST(least(500000 + margin * 50000, 1000000) AS BIGINT)"))
          .withColumn("gap_ppm", expr("CAST(abs(acc_ppm - conf_ppm) AS BIGINT)"))
          .select("margin", "n", "n_correct", "acc_ppm", "conf_ppm", "gap_ppm")
          .orderBy("margin")
      },
      Some(s"""WITH t AS (SELECT lang, $tokensSql AS tk FROM documents),
             |m AS (SELECT lang,
             |  CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS s_en,
             |  CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
             |  CAST(len(list_filter(tk, x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS s_fr,
             |  CAST(len(list_filter(tk, x -> x IN ('el','los','las','y','es'))) AS BIGINT) AS s_es
             |  FROM t),
             |p AS (SELECT lang,
             |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
             |       WHEN s_fr >= s_es THEN 'fr'
             |       ELSE 'es' END AS pred_lang,
             |  list_sort([s_en, s_de, s_fr, s_es]) AS sorted FROM m),
             |b AS (SELECT lang, pred_lang,
             |  least(sorted[4] - sorted[3], 10) AS margin FROM p)
             |SELECT CAST(margin AS BIGINT) AS margin,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_correct,
             |  CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) * 1000000
             |    // count(*) AS BIGINT) AS acc_ppm,
             |  CAST(least(500000 + margin * 50000, 1000000) AS BIGINT) AS conf_ppm,
             |  CAST(abs(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) * 1000000
             |    // count(*) - least(500000 + margin * 50000, 1000000)) AS BIGINT)
             |    AS gap_ppm
             |FROM b GROUP BY margin ORDER BY margin""".stripMargin)),

    // CLASSIFIER AUC (x142) — the ranking eval the x139/x140/x141 family
    // still lacks: does a cheap quality score RANK target-domain documents
    // above the rest? AUC computed EXACTLY as the Mann-Whitney U statistic
    // with midrank tie handling — and kept all-integer by working in
    // DOUBLED ranks (mr2 = 2·cum_before + cnt + 1 is always odd-integer;
    // U2 = ΣposMr2 − n1(n1+1); auc_ppm = U2·10⁶ div (2·n1·n0)). The score
    // is an integer density proxy (tokens per kilochar), the label is
    // x107's target-domain set, and ranks come from the q40 histogram-CDF
    // pattern: ONE corpus pass partial-combines into a (lang, score)
    // histogram (bounded by the score domain, not the corpus), the
    // midrank window and rollup ride that small frame. U2·10⁶ is
    // documented safe to ~10⁹ rows per lang; past that, divide in
    // ppm-space first (x139's discipline).
    QueryDef(
      "x142_classifier_auc",
      (s, d) => {
        val hist = documents(s, d)
          .select(col("lang"),
            size(tokens(col("text"))).cast(LongType).as("n_tok"), col("n_chars"),
            when(col("source").isin("src0", "src1", "src2", "src3"), 1L)
              .otherwise(0L).as("tgt"))
          .withColumn("sc",
            expr("n_tok * 1000 div greatest(n_chars, CAST(1 AS BIGINT))"))
          .groupBy("lang", "sc")
          .agg(count(lit(1)).as("cnt"), sum(col("tgt")).as("cnt_pos"))
        val w = Window.partitionBy("lang").orderBy("sc")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hist
          .withColumn("cum", sum("cnt").over(w))
          .withColumn("mr2", lit(2L) * (col("cum") - col("cnt")) + col("cnt") + 1L)
          .groupBy("lang")
          .agg(sum(col("cnt")).as("n"),
            sum(col("cnt_pos")).as("n1"),
            sum(col("cnt_pos") * col("mr2")).as("r1_2"))
          .select(col("lang"),
            col("n1").cast(LongType).as("n_pos"),
            (col("n") - col("n1")).cast(LongType).as("n_neg"),
            (col("r1_2") - col("n1") * (col("n1") + 1L)).cast(LongType).as("u2"),
            expr("CASE WHEN n1 > 0 AND n - n1 > 0 THEN " +
              "CAST((r1_2 - n1 * (n1 + 1)) * 1000000 div (2 * n1 * (n - n1)) AS BIGINT) " +
              "ELSE CAST(-1 AS BIGINT) END").as("auc_ppm"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT lang,
             |    CAST(len($tokensSql) AS BIGINT) * 1000
             |      // greatest(n_chars, 1) AS sc,
             |    CASE WHEN source IN ('src0', 'src1', 'src2', 'src3')
             |      THEN 1 ELSE 0 END AS tgt FROM documents),
             |h AS (SELECT lang, sc, CAST(count(*) AS BIGINT) AS cnt,
             |    CAST(sum(tgt) AS BIGINT) AS cnt_pos FROM t GROUP BY 1, 2),
             |r AS (SELECT lang, cnt, cnt_pos,
             |    2 * (sum(cnt) OVER (PARTITION BY lang ORDER BY sc
             |      ROWS UNBOUNDED PRECEDING) - cnt) + cnt + 1 AS mr2 FROM h),
             |a AS (SELECT lang, sum(cnt) AS n, sum(cnt_pos) AS n1,
             |    sum(cnt_pos * mr2) AS r1_2 FROM r GROUP BY 1)
             |SELECT lang, CAST(n1 AS BIGINT) AS n_pos,
             |  CAST(n - n1 AS BIGINT) AS n_neg,
             |  CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u2,
             |  CASE WHEN n1 > 0 AND n - n1 > 0 THEN
             |    CAST((r1_2 - n1 * (n1 + 1)) * 1000000 // (2 * n1 * (n - n1)) AS BIGINT)
             |  ELSE CAST(-1 AS BIGINT) END AS auc_ppm
             |FROM a ORDER BY lang""".stripMargin)),

    // STREAMING TUMBLING WINDOW (x143) — the catalog's first STRUCTURED
    // STREAMING gate: the q24-family tumbling aggregate executed as a REAL
    // multi-micro-batch stream ([[graft.streaming.StreamGate]] replays the
    // events through a file source with maxFilesPerTrigger = 1, so window
    // state is carried, merged, and re-emitted across 4 batches under
    // Trigger.AvailableNow) and hash-compared against DuckDB's batch SQL.
    // This is the claim a streaming engine must defend — incremental
    // execution CONVERGES TO THE BATCH ANSWER — made engine-differential.
    // Sums are exact integer cents (x29's floor(x·100) discipline) so
    // cross-batch merge order can't show; windows are epoch-aligned hours
    // on exact epoch MICROSECONDS (q23/q24 discipline). Scale: the same
    // shape runs unbounded with a watermark (spec-covered in streaming/);
    // complete-mode here because a gated replay wants every window out.
    QueryDef(
      "x143_stream_window",
      (s, d) => {
        val out = graft.streaming.StreamGate.replay(
          s, events(s, d).select(col("ts"), col("event_type"), col("value")),
          name = "x143_events", files = 4, mode = "complete") { stream =>
          stream
            .withColumn("cents", floor(col("value") * 100).cast(LongType))
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
            .select(unix_micros(col("window.start")).as("w_us"),
              col("event_type"), col("n"), col("sum_cents"))
        }
        out.orderBy("w_us", "event_type")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) AS us, event_type,
             |  CAST(floor("value" * 100) AS BIGINT) AS cents FROM events)
             |SELECT us - us % 3600000000 AS w_us, event_type,
             |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // STREAMING STATEFUL DEDUP (x144) — the second streaming gate: exactly-
    // once first-seen semantics across micro-batches. dropDuplicates over
    // (user_id, event_type) runs as a 4-batch APPEND stream — the dedup
    // state store must admit each pair exactly once no matter which batch
    // carries the duplicates — and the emitted first-seen rows are then
    // rolled up in batch and hash-compared against DuckDB's
    // count(DISTINCT). A double-admit or a dropped admit changes a count
    // and fails the gate. Scale: unbounded dedup state is the documented
    // watermark trade-off (streaming/StatefulEnrichmentSpec covers the
    // TTL form); the replay gate keeps state exact.
    QueryDef(
      "x144_stream_dedup",
      (s, d) => {
        val firstSeen = graft.streaming.StreamGate.replay(
          s, events(s, d).select(col("user_id"), col("event_type")),
          name = "x144_events", files = 4, mode = "append") { stream =>
          stream.dropDuplicates("user_id", "event_type")
        }
        firstSeen.groupBy("event_type")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MEMORIZATION SPAN AUDIT (x145) — the pre-release audit the dedup
    // family (x01–x87) stops short of: WHICH long spans recur across
    // documents, and how widely? Top-20 cross-document 8-gram spans by
    // document frequency (8 words ≈ the span length memorization evals
    // probe), with per-span occurrence totals and corpus-coverage ppm.
    // Distinct from x34 (novelty vs a reference corpus), x52 (span dedup
    // between doc pairs), x65 (winnowing fingerprints): this names the
    // offending spans corpus-wide. Scale: (doc, span) rollup partial-
    // combines before its exchange; the span rollup's partial state is
    // the distinct-span frame; TakeOrdered(20) — never a global sort. At
    // 100 TB the exchange would carry x11-style 64-bit fingerprints with
    // a map-back join for the report text; the gate ships the 8-gram
    // strings directly (documented trade).
    QueryDef(
      "x145_memorization_spans",
      (s, d) => {
        val nDocs = documents(s, d).count()
        val spans = documents(s, d)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 8)
          .select(col("doc_id"),
            explode(graft.ops.TextDedup.shingles(col("tk"), 8)).as("span"))
          .groupBy("doc_id", "span").agg(count(lit(1)).as("k"))
        val w = Window.orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
        spans.groupBy("span")
          .agg(count(lit(1)).as("n_docs"), sum(col("k")).as("n_occ"))
          .filter(col("n_docs") >= 2) // cross-document only
          .orderBy(col("n_docs").desc, col("n_occ").desc, col("span"))
          .limit(20)
          .withColumn("rank", row_number().over(w).cast(LongType))
          .select(col("rank"), col("span"),
            col("n_docs").cast(LongType).as("n_docs"),
            col("n_occ").cast(LongType).as("n_occ"),
            expr(s"CAST(n_docs * 1000000 div $nDocs AS BIGINT)").as("doc_ppm"))
          .orderBy("rank")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents),
             |sp AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
             |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
             |      || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
             |      || ' ' || tk[i+7])) AS span
             |  FROM t WHERE len(tk) >= 8),
             |ds AS (SELECT doc_id, span, count(*) AS k FROM sp GROUP BY 1, 2),
             |agg AS (SELECT span, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(k) AS BIGINT) AS n_occ FROM ds GROUP BY 1
             |  HAVING count(*) >= 2),
             |top AS (SELECT span, n_docs, n_occ,
             |  CAST(row_number() OVER (ORDER BY n_docs DESC, n_occ DESC, span)
             |    AS BIGINT) AS rank FROM agg
             |  ORDER BY n_docs DESC, n_occ DESC, span LIMIT 20)
             |SELECT rank, span, n_docs, n_occ,
             |  CAST(n_docs * 1000000 // (SELECT count(*) FROM documents) AS BIGINT)
             |    AS doc_ppm
             |FROM top ORDER BY rank""".stripMargin)),

    // STREAMING SESSION WINDOWS (x146) — the third and hardest streaming
    // gate: session windows MERGE (two sessions separated by a gap can be
    // bridged by a later event), and the file replay delivers events in
    // file order — heavily out of time order — so the state store must
    // split, extend, and merge session state across micro-batches and
    // still converge to q28's batch islands answer (the oracle is q28's
    // lag/gap twin verbatim). Complete mode re-emits the merged state on
    // the final batch. This is the stateful-streaming semantics
    // SURVEY §2.3 promises, now hash-gated rather than spec-only.
    QueryDef(
      "x146_stream_sessions",
      (s, d) => {
        val out = graft.streaming.StreamGate.replay(
          s, events(s, d).select(col("ts"), col("user_id")),
          name = "x146_events", files = 4, mode = "complete") { stream =>
          stream
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("n_events"))
        }
        out.orderBy("user_id", "session_start")
      },
      Some("""WITH g AS (SELECT user_id, ts,
             |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
             |FROM events),
             |m AS (SELECT user_id, ts,
             |  CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_s FROM g),
             |ses AS (SELECT user_id, ts,
             |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
             |FROM ses GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // SKETCH-UNION CARDINALITY (x147) — the MERGE semantics x37/x42's
    // per-group error contracts don't exercise: vocabulary cardinality per
    // source AND over the union of all sources, from ONE pass of HLL
    // sketches (the 100 TB vocabulary-accounting shape — per-shard
    // sketches roll up to any grouping without re-scanning). Contracts,
    // all asserted TRUE by the oracle: per-source sketch within 5 % of
    // the EXACT distinct count (kept exact — the two-stage hash distinct
    // amortizes), and the union estimate obeys the lattice inequalities
    // max(per-source) ≤ union ≤ Σ per-source with its own 5 % band.
    // Scale: one explode pass; the exact distinct and the sketches share
    // the (source, tok) partial-combined frame; output is |sources|+1
    // rows.
    QueryDef(
      "x147_sketch_union",
      (s, d) => {
        // x37's measured plan trap: countDistinct co-located with an
        // object-backed sketch makes the single-distinct rewrite partial-
        // evaluate one HLL buffer per (source, tok) group. Shape that
        // wins: dedup to (source, tok) pairs ONCE (codegen hash distinct,
        // map-side partial), then exact counts are plain count(*) and the
        // sketches run over the deduped pairs (HLL over distinct values
        // estimates the same cardinality) — no distinct-rewrite anywhere.
        val pairs = documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .distinct()
          .localCheckpoint(eager = true) // 3 consumers below
        val perSrc = pairs.groupBy("source").agg(
          count(lit(1)).as("nd_exact"),
          approx_count_distinct(col("tok"), 0.02).as("nd_est"))
          .localCheckpoint(eager = true) // |sources| rows; 2 consumers
        val union = pairs
          .agg(approx_count_distinct(col("tok"), 0.02).as("nd_est"))
          .crossJoin(broadcast(
            pairs.select("tok").distinct().agg(count(lit(1)).as("nd_exact"))))
        val bounds = perSrc.agg(sum(col("nd_est")).as("sum_est"),
          max(col("nd_est")).as("max_est"))
        val srcRows = perSrc.select(col("source"),
          col("nd_exact").cast(LongType).as("nd_exact"),
          (abs(col("nd_est") - col("nd_exact")) <=
            greatest(lit(1.0), col("nd_exact") * 0.05)).as("est_ok"),
          lit(true).as("union_ok"))
        val allRow = union.crossJoin(broadcast(bounds)).select(
          lit("ALL").as("source"),
          col("nd_exact").cast(LongType).as("nd_exact"),
          (abs(col("nd_est") - col("nd_exact")) <=
            greatest(lit(1.0), col("nd_exact") * 0.05)).as("est_ok"),
          (col("nd_est") <= col("sum_est") &&
            col("nd_est") >= col("max_est") * 0.95).as("union_ok"))
        srcRows.unionByName(allRow).orderBy("source")
      },
      Some(s"""WITH t AS (SELECT source, unnest($tokensSql) AS tok FROM documents),
             |per AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS nd_exact
             |  FROM t GROUP BY 1),
             |u AS (SELECT 'ALL' AS source, CAST(count(DISTINCT tok) AS BIGINT) AS nd_exact
             |  FROM t)
             |SELECT source, nd_exact, TRUE AS est_ok, TRUE AS union_ok FROM per
             |UNION ALL SELECT source, nd_exact, TRUE, TRUE FROM u
             |ORDER BY source""".stripMargin)),

    // DEDUP CLUSTER-SIZE DISTRIBUTION (x148) — the structural report over
    // x18's near-dup components the audit family (x75 histogram of pair
    // counts, x132 threshold sweep) stops short of: how many clusters of
    // each size, covering how many documents? Real corpora are power-law
    // here, and a fat tail (one giant component) is the classic sign of a
    // too-loose LSH threshold — this table is what you read before
    // trusting a dedup run. Consumes the SESSION-SHARED pair frame (store-
    // backed via DerivedStore) and the same label-propagation mapping as
    // x18; the oracle recomputes components with the x18 recursive CTE, so
    // the iterative stage stays engine-differentially checked. Scale: the
    // mapping rollup partial-combines per canonical id; the size histogram
    // is ≤|distinct sizes| rows.
    QueryDef(
      "x148_cluster_sizes",
      (s, d) => {
        val corpus = docCorpus(s, d)
        val pairs = lshPairsShared(s, d, corpus)
        val mapping = graft.ops.TextDedup.dedupMappingFromPairs(corpus, pairs)
        val total = mapping.count()
        mapping.groupBy("canonical_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz")
          .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
          .select(col("sz").cast(LongType).as("cluster_size"),
            col("n_clusters").cast(LongType).as("n_clusters"),
            col("n_docs").cast(LongType).as("n_docs"),
            expr(s"CAST(n_docs * 1000000 div $total AS BIGINT)").as("docs_ppm"))
          .orderBy("cluster_size")
      },
      Some(s"""$dedupComponentsCtes,
             |sizes AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS sz
             |  FROM cmap GROUP BY 1)
             |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
             |  CAST(sum(sz) AS BIGINT) AS n_docs,
             |  CAST(sum(sz) * 1000000 // (SELECT count(*) FROM cmap) AS BIGINT)
             |    AS docs_ppm
             |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PASS@K ESTIMATOR (x149) — the code-eval statistic (HumanEval's
    // unbiased pass@k: 1 − C(n−c, k)/C(n, k) per task, averaged) closing
    // the eval family: x139 scores labels, x140 spans, x141 calibration,
    // x142 ranking — this scores SAMPLING-based task success. n = 16
    // samples per task with a deterministic per-task success count c
    // (derived from the doc's own token count), k ∈ {1, 4, 8}. ALL
    // integer: products of j consecutive integers divided by j! are exact
    // BIGINT binomials at n = 16, the per-task estimator is one integer
    // ppm division, and the corpus mean is a second — zero float surface.
    // Scale: one narrow corpus pass computes c; the per-k rollup partial-
    // combines into 3 rows (stack is narrow).
    QueryDef(
      "x149_pass_at_k",
      (s, d) => {
        // C(m, k) for k ∈ {1,4,8} as exact integer SQL on column m
        def choose(m: String, k: Int): String = k match {
          case 1 => s"CAST(CASE WHEN $m >= 1 THEN $m ELSE 0 END AS BIGINT)"
          case _ =>
            val prod = (0 until k).map(i => s"($m - $i)").mkString(" * ")
            val fact = (1 to k).product
            s"CAST(CASE WHEN $m >= $k THEN ($prod) div $fact ELSE 0 END AS BIGINT)"
        }
        val base = documents(s, d)
          .select(size(tokens(col("text"))).cast(LongType).as("n_tok"))
          .withColumn("c", expr("n_tok % 17")) // 0..16 successes of n = 16
        val perK = Seq(1, 4, 8).map { k =>
          val cn = choose("16", k)  // constant C(16, k)
          val cm = choose("(16 - c)", k)
          base.select(lit(k.toLong).as("k"),
            expr(s"CAST(($cn - $cm) * 1000000 div $cn AS BIGINT)").as("p_ppm"))
        }.reduce(_ unionByName _)
        perK.groupBy("k")
          .agg(count(lit(1)).as("n_tasks"), sum(col("p_ppm")).as("sp"))
          .select(col("k"), col("n_tasks").cast(LongType).as("n_tasks"),
            expr("CAST(sp div n_tasks AS BIGINT)").as("mean_pass_ppm"))
          .orderBy("k")
      },
      Some {
        def choose(m: String, k: Int): String =
          if (k == 1) s"CAST(CASE WHEN $m >= 1 THEN $m ELSE 0 END AS BIGINT)"
          else {
            val prod = (0 until k).map(i => s"($m - $i)").mkString(" * ")
            val fact = (1 to k).product
            s"CAST(CASE WHEN $m >= $k THEN ($prod) // $fact ELSE 0 END AS BIGINT)"
          }
        val legs = Seq(1, 4, 8).map { k =>
          val cn = choose("16", k)
          val cm = choose("(16 - c)", k)
          s"""SELECT $k AS k, CAST(($cn - $cm) * 1000000 // $cn AS BIGINT) AS p_ppm
             |  FROM t""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH t AS (SELECT CAST(len($tokensSql) AS BIGINT) % 17 AS c
           |  FROM documents),
           |pk AS ($legs)
           |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_tasks,
           |  CAST(sum(p_ppm) // count(*) AS BIGINT) AS mean_pass_ppm
           |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // STREAMING WATERMARK GATE (x150) — the UNBOUNDED form x143 stops
    // short of: withWatermark + APPEND-mode windowed aggregation, with
    // LATE data deliberately staged two micro-batches behind its event
    // time, hash-gated on WHICH rows were admitted vs dropped and WHICH
    // windows were emitted vs withheld. Staging is deterministic: batch =
    // day-quartile of ts (8-day blocks from 2024-01-01), except rows with
    // event_id % 7 = 3 arrive two batches late ([[graft.streaming
    // .StreamGate.replayStaged]] pins per-batch files and their order).
    // The oracle computes the SAME watermark arithmetic Spark executes —
    // calibrated, not assumed, by streaming/WatermarkGateSpec: per-batch
    // max event time is ms-truncated; eviction/emission uses
    // wmEvict_b = M_{b-1} - delay (inclusive, final no-data flush batch
    // included); late filtering uses the one-batch-LAGGED
    // wmLate_b = wmEvict_{b-1} (SPARK-40925's two-watermark model,
    // inclusive boundary). A row is admitted iff its 4h window end >
    // wmLate of its arrival batch; a window is emitted iff its end <=
    // M_last - delay. Sums are exact integer cents (x29 discipline).
    // Scale: this IS the 100 TB shape — state is bounded by delay x
    // window-rate instead of growing forever, and the gate proves the
    // bound costs EXACTLY the documented rows, not approximately.
    QueryDef(
      "x150_stream_watermark",
      (s, d) => {
        val staged = events(s, d)
          .select(col("ts"), col("event_type"), col("value"),
            eventBatch.as("q"),
            col("event_id"))
          .select(col("ts"), col("event_type"), col("value"),
            expr("CAST(CASE WHEN event_id % 7 = 3 THEN least(q + 2, 3) " +
              "ELSE q END AS INT)").as("b"))
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x150_events", "b", 4, "append") { stream =>
          stream
            .withColumn("cents", floor(col("value") * 100).cast(LongType))
            .withWatermark("ts", "36 hours")
            .groupBy(window(col("ts"), "4 hours"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
            .select(unix_micros(col("window.start")).as("w_us"),
              col("event_type"), col("n"), col("sum_cents"))
        }
        out.orderBy("w_us", "event_type")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) AS us, event_type,
             |    CAST(floor("value" * 100) AS BIGINT) AS cents,
             |    CASE WHEN event_id % 7 = 3
             |      THEN LEAST(LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |        CAST(ts AS DATE)) // 8, 0), 3) + 2, 3)
             |      ELSE LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |        CAST(ts AS DATE)) // 8, 0), 3) END AS b
             |  FROM events),
             |mb AS (SELECT b, max(us) AS mx FROM e GROUP BY b),
             |wm AS (SELECT b,
             |  (max(mx) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND 2 PRECEDING) // 1000) * 1000 - 129600000000 AS wm_late
             |  FROM mb),
             |adm AS (SELECT e.us - e.us % 14400000000 + 14400000000 AS w_end,
             |    e.event_type, e.cents
             |  FROM e JOIN wm ON e.b = wm.b
             |  WHERE wm.wm_late IS NULL
             |    OR e.us - e.us % 14400000000 + 14400000000 > wm.wm_late),
             |fin AS (SELECT (max(us) // 1000) * 1000 - 129600000000 AS wm_fin
             |  FROM e)
             |SELECT w_end - 14400000000 AS w_us, event_type,
             |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
             |FROM adm, fin WHERE w_end <= wm_fin
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // STREAMING DEDUP WITHIN WATERMARK (x151) — x144's unbounded-safe
    // form: dropDuplicatesWithinWatermark with per-key state that EXPIRES
    // instead of growing forever, replayed with the same deterministic
    // two-batches-late staging (event_id % 5 = 2) and gated on exactly
    // WHICH (user, event_type, day) keys were admitted. The dedup key
    // includes the day-truncated event-time column, so every row of a key
    // carries the SAME event time — which makes the emitted set exactly
    // computable: a key is emitted iff its FIRST-arriving batch passes
    // the lagged late filter (day_us > wmLate_b, calibrated inclusive/
    // ms-truncated in WatermarkGateSpec); re-emission after state expiry
    // is impossible for same-event-time duplicates (expiry implies
    // lateness), and later arrivals are either in-state duplicates or
    // late. The oracle computes that set arithmetically. Scale: dedup
    // state bounded by delay x key-rate — the only admissible shape for
    // a 100 TB exactly-once ingest; the gate pins its exact admit/drop
    // frontier.
    QueryDef(
      "x151_stream_dedup_watermark",
      (s, d) => {
        val staged = events(s, d)
          .select(col("user_id"), col("event_type"),
            date_trunc("day", col("ts")).as("ts_day"),
            eventBatch.as("q"),
            col("event_id"))
          .select(col("user_id"), col("event_type"), col("ts_day"),
            expr("CAST(CASE WHEN event_id % 5 = 2 THEN least(q + 2, 3) " +
              "ELSE q END AS INT)").as("b"))
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x151_events", "b", 4, "append") { stream =>
          stream
            .withWatermark("ts_day", "2 days")
            .dropDuplicatesWithinWatermark("user_id", "event_type", "ts_day")
            .select(col("user_id"), col("event_type"),
              unix_micros(col("ts_day")).as("day_us"))
        }
        out.orderBy("user_id", "event_type", "day_us")
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |    epoch_us(date_trunc('day', ts)) AS day_us,
             |    CASE WHEN event_id % 5 = 2
             |      THEN LEAST(LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |        CAST(ts AS DATE)) // 8, 0), 3) + 2, 3)
             |      ELSE LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |        CAST(ts AS DATE)) // 8, 0), 3) END AS b
             |  FROM events),
             |mb AS (SELECT b, max(day_us) AS mx FROM e GROUP BY b),
             |wm AS (SELECT b,
             |  (max(mx) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND 2 PRECEDING) // 1000) * 1000 - 172800000000 AS wm_late
             |  FROM mb),
             |k AS (SELECT user_id, event_type, day_us, min(b) AS bmin
             |  FROM e GROUP BY 1, 2, 3)
             |SELECT k.user_id, k.event_type, k.day_us
             |FROM k JOIN wm ON k.bmin = wm.b
             |WHERE wm.wm_late IS NULL OR k.day_us > wm.wm_late
             |ORDER BY 1, 2, 3""".stripMargin)),

    // STREAM-STREAM JOIN (x152) — the remaining stateful-streaming
    // primitive x143–x151 don't touch: an event-time range INNER join
    // where BOTH sides arrive incrementally. Signups and purchases of the
    // same replayed event stream (a self-join — two filters of one file
    // source) join on user with p_ts in (s_ts, s_ts + 4h]; batches are
    // day-quartiles in time order, so matches straddle micro-batch
    // boundaries in BOTH directions (a quartile-b signup pairing with a
    // quartile-b+1 purchase, and — via the within-quartile shuffle of
    // arrival — purchases buffered before their signup arrives). Each
    // side carries a watermark (the production posture: with the range
    // condition it bounds join state to ~4h of per-side history at 100
    // TB); the replay sets the delay to cover the staged span, the regime
    // where the gate's claim is EXACT equality with the batch join —
    // incremental two-sided state converges to the batch answer, which
    // DuckDB computes directly. Emitted pair multiset hash-compared;
    // integer event-ids make the gate exact.
    QueryDef(
      "x152_stream_join",
      (s, d) => {
        val staged = events(s, d)
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
            eventBatch.as("b"))
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x152_events", "b", 4, "append")(streamInnerJoin)
        out.orderBy("user_id", "s_id", "p_id")
      },
      Some("""WITH s AS (SELECT event_id AS s_id, user_id, ts AS s_ts
             |  FROM events WHERE event_type = 'signup'),
             |p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
             |  FROM events WHERE event_type = 'purchase')
             |SELECT s.user_id, s.s_id, p.p_id,
             |  epoch_us(s.s_ts) AS s_us, epoch_us(p.p_ts) AS p_us
             |FROM s JOIN p ON p.user_id = s.user_id
             |  AND p.p_ts > s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 4 HOUR
             |ORDER BY 1, 2, 3""".stripMargin)),

    // MP3 SPECTRAL RECONSTRUCTION (x153) — the decode stage below x136's
    // side-info walk, closing the audio leg the way x101/x102 closed
    // images: BIG-VALUES-region Huffman (graft.ops.Mp3Huffman — the
    // Table-B.7 codebooks, pair codes + linbits escapes + per-nonzero
    // signs, in-class when all three regions select one transcribed
    // book), count1-region Huffman (spec Table B — the fixed-length
    // quadruple codebook: code = one's complement of (v,w,x,y), one sign
    // bit per nonzero), requantization (sign · |v|^(4/3) ·
    // 2^((global_gain − 210)/4)), the 8 Table-B.9 alias-reduction
    // butterflies, 36-point IMDCT, sin windowing and 50% overlap-add
    // ([[graft.ops.Mp3Spectra]]; a granule selecting an UNTRANSCRIBED
    // codebook fake-routes to ok = false, which media_id 28 exercises
    // via table_select 7). Paired construction at
    // the bit level (the x136 discipline, third independent construction
    // counting the unit spec's bit-writer): Spark assembles real mono
    // frames from per-(doc, frame, granule) field arithmetic in SQL
    // expressions, the Scala decoder reconstructs spectra and time
    // samples, and DuckDB predicts every observable arithmetically —
    // Huffman line positions and signs exactly, magnitudes as exact
    // BIGINTs (gains constructed ≡ 210 mod 4 so 2^((g−210)/4)·2^20 is an
    // integer shift), and the float path through alias + IMDCT + window
    // pinned by two EXACT energy identities (Σ X_t² = 18·Σ xr², and
    // Σ (w_t X_t)² = 9·Σ xr² — the window's cos factor sums to zero over
    // the 36-point period for every line index) asserted to 1e-9. Narrow
    // per-row flatMap, zero shuffle before the final sort.
    QueryDef(
      "x153_mp3_spectra",
      (s, d) => {
        // doc_id % 8 = 3 streams carry a BIG-VALUES granule 0: big = 1,
        // all three regions selecting transcribed codebook 2 (pair
        // (2, 0), its code '00011' + one sign bit = 6 main-data bits
        // before the count1 quads), count1 pushed deep enough (7–8
        // quads) that its line lands past the alias butterflies —
        // one nonzero per subband keeps the energy identities exact.
        // doc 28 keeps the fake-route exercised, now via table_select =
        // 7 (untranscribed codebook; table 0 would legally decode).
        def Q(g: Int) = if (g == 0)
          "(CASE WHEN doc_id % 8 = 3 THEN 7 + (doc_id DIV 8) % 2 ELSE 2 + doc_id % 3 END)"
        else "(6 + (doc_id + 1) % 3)"
        def P(g: Int) = s"((doc_id + ${2 * g} + f) % 4)"
        def Sg(g: Int) = s"((doc_id + $g + f) % 2)"
        def Gain(g: Int) = s"(162 + 4 * ((doc_id * 5 + f * 3 + $g * 7) % 25))"
        def Big(g: Int) = if (g == 0)
          "(CASE WHEN doc_id = 28 THEN 5 WHEN doc_id % 8 = 3 THEN 1 ELSE 0 END)"
        else "(CASE WHEN doc_id = 28 THEN 5 ELSE 0 END)"
        // table_select ×3 sits at bits 24-20/19-15/14-10 of the 59-bit
        // granule: 2 everywhere = 2164736, 7 everywhere = 7576576
        def Tsel(g: Int) = if (g == 0)
          "(CASE WHEN doc_id = 28 THEN 7576576 WHEN doc_id % 8 = 3 THEN 2164736 ELSE 0 END)"
        else "(CASE WHEN doc_id = 28 THEN 7576576 ELSE 0 END)"
        def P23(g: Int) = if (g == 0)
          s"(CASE WHEN doc_id % 8 = 3 THEN 4 * ${Q(0)} + 7 ELSE 4 * ${Q(0)} + 1 END)"
        else s"(4 * ${Q(1)} + 1)"
        // 59-bit granule side info: part2_3(12) big(9) gain(8) scomp(4)
        // wsf(1) regions(22) preflag(1) sfs(1) count1table_select(1) = 1
        def side(g: Int) = s"(${P23(g)} * 140737488355328 + " +
          s"${Big(g)} * 274877906944 + ${Gain(g)} * 1073741824 + ${Tsel(g)} + 1)"
        // side-info bit j of 136: mdb+priv+scfsi zeros, then 2×59
        val sbit = s"(CASE WHEN j < 18 THEN 0 " +
          s"WHEN j < 77 THEN shiftright(${side(0)}, CAST(76 - j AS INT)) " +
          s"ELSE shiftright(${side(1)}, CAST(135 - j AS INT)) END % 2)"
        val sideByte = "aggregate(sequence(CAST(0 AS BIGINT), 7), CAST(0 AS BIGINT), " +
          s"(acc, t) -> acc * 2 + (CASE WHEN true THEN $sbit END))"
            .replace("j", "(k * 8 + t)")
        val sideHex =
          s"array_join(transform(sequence(CAST(0 AS BIGINT), 16), k -> ${hbS(sideByte)}), '')"
        // main-data bit j: granule 0's big-values prefix (code '00011' for
        // (2,0) + sign), then granule 0 and granule 1 quadruple codes
        val bigSign = "((doc_id * 3 + f) % 2)"
        val bigPrefix0 =
          s"WHEN doc_id % 8 = 3 AND (j) < 3 THEN 0 " +
            s"WHEN doc_id % 8 = 3 AND (j) < 5 THEN 1 " +
            s"WHEN doc_id % 8 = 3 AND (j) = 5 THEN $bigSign "
        val off0 = "(CASE WHEN doc_id % 8 = 3 THEN 6 ELSE 0 END)"
        def gbits(g: Int, off: String) =
          s"WHEN (j) - $off < 4 * (${Q(g)} - 1) THEN 1 " +
            s"WHEN (j) - $off < 4 * ${Q(g)} THEN shiftright(15 - shiftright(8, CAST(${P(g)} AS INT)), " +
            s"CAST(3 - ((j) - $off - 4 * (${Q(g)} - 1)) AS INT)) " +
            s"WHEN (j) - $off = 4 * ${Q(g)} THEN ${Sg(g)} "
        val mbit = (s"(CASE $bigPrefix0 ${gbits(0, off0)} ${gbits(1, P23(0))} " +
          "ELSE 0 END % 2)").replace("j", "(k * 8 + t)")
        val mainByte = "aggregate(sequence(CAST(0 AS BIGINT), 7), CAST(0 AS BIGINT), " +
          s"(acc, t) -> acc * 2 + $mbit)"
        val mainHex =
          s"array_join(transform(sequence(CAST(0 AS BIGINT), 186), k -> ${hbS(mainByte)}), '')"
        // mono 64 kbps @ 44.1 kHz no-CRC no-pad: FF FB 50 C0, 208 bytes
        val frameF = s"concat('FFFB50C0', $sideHex, $mainHex)"
        val base = documents(s, d).filter(col("doc_id") < 32)
          .select(col("doc_id"), expr("2 + doc_id % 2").as("n"))
          .withColumn("hx", expr(
            s"array_join(transform(sequence(CAST(0 AS BIGINT), n - 1), f -> $frameF), '')"))
        graft.ops.Mp3Spectra.spectra(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .toDF()
          .orderBy("media_id", "frame_idx", "granule")
      },
      Some("""WITH b AS (SELECT doc_id, 2 + doc_id % 2 AS n FROM documents
             |  WHERE doc_id < 32),
             |g AS (SELECT doc_id, n, f, gr,
             |  CASE WHEN gr = 0 THEN (CASE WHEN doc_id % 8 = 3
             |      THEN 7 + (doc_id // 8) % 2 ELSE 2 + doc_id % 3 END)
             |    ELSE 6 + (doc_id + 1) % 3 END AS q,
             |  CASE WHEN gr = 0 AND doc_id % 8 = 3 THEN 1 ELSE 0 END AS bv,
             |  (doc_id * 3 + f) % 2 AS bsg,
             |  (doc_id + 2 * gr + f) % 4 AS p,
             |  (doc_id + gr + f) % 2 AS sg,
             |  162 + 4 * ((doc_id * 5 + f * 3 + gr * 7) % 25) AS gain,
             |  doc_id <> 28 AS okk
             |  FROM b
             |  CROSS JOIN (SELECT unnest(range(0, 3)) AS f)
             |  CROSS JOIN (SELECT unnest(range(0, 2)) AS gr)
             |  WHERE f < n)
             |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(gr AS BIGINT) AS granule, okk AS ok,
             |  CAST(CASE WHEN okk THEN q ELSE 0 END AS BIGINT) AS n_quads,
             |  CAST(CASE WHEN okk THEN 2 * bv + 4 * (q - 1) + p ELSE -1 END AS BIGINT)
             |    AS nonzero_line,
             |  CAST(CASE WHEN okk THEN 1 - 2 * sg ELSE 0 END AS BIGINT) AS sign_val,
             |  CAST(gain AS BIGINT) AS gain,
             |  CAST(CASE WHEN okk
             |    THEN (CAST(1 AS BIGINT) << CAST((gain - 210) // 4 + 20 AS INT))
             |    ELSE 0 END AS BIGINT) AS mag_q20,
             |  okk AS bits_ok, okk AS energy_pre_ok, okk AS energy_win_ok,
             |  CAST((2 * n + 1) * 576 AS BIGINT) AS total_samples,
             |  CAST(CASE WHEN okk THEN bv ELSE 0 END AS BIGINT) AS n_pairs,
             |  CAST(CASE WHEN okk THEN bv * (1 - 2 * bsg) * 2 ELSE 0 END AS BIGINT) AS sum_v,
             |  CAST(CASE WHEN okk THEN bv * (1 - 2 * bsg) * 2 ELSE 0 END AS BIGINT) AS dot_v
             |FROM g ORDER BY 1, 2, 3""".stripMargin)),

    // ARBITRARY STATEFUL STREAMING (x154) — the last streaming API tier
    // after window/dedup/session/watermark/join (x143–x152): Spark 4's
    // transformWithState (StatefulProcessor + typed ValueState in the
    // RocksDB-backed store), running [[graft.streaming.RunningUserStats]]
    // — per-user running (count, exact-cents sum, max) emitted once per
    // ACTIVE key per micro-batch — through the staged day-quartile
    // replay. The emitted set is closed-form: one row per (user, batch
    // the user appeared in) carrying the cumulative stats over that
    // user's rows in batches ≤ b, which the oracle computes as windowed
    // running sums over the per-(user, batch) rollup. Integer cents make
    // within-batch order invisible (the processor folds rows in arrival
    // order — only exact addition keeps that deterministic). The
    // RocksDB provider is set on the replay's own session, so no other
    // gate sees it. Scale: one fixed-width state row per user, emission
    // per active key per batch — the 100 TB running-profile shape.
    QueryDef(
      "x154_stream_running_stats",
      (s, d) => {
        val staged = events(s, d)
          .select(col("user_id"), col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents"),
            eventBatch.as("b"))
        val out =
          graft.streaming.StreamGate.replayStaged(
            s, staged, "x154_events", "b", 4, "append",
            conf = Map(graft.streaming.StreamGate.RocksDb)) { stream =>
            graft.streaming.RunningUserStats.runningStats(
              stream.as[graft.streaming.RunningUserStats.EventIn](
                org.apache.spark.sql.Encoders.product)).toDF()
          }
        out.orderBy("user_id", "n_events")
      },
      Some("""WITH e AS (SELECT user_id,
             |    CAST(floor("value" * 100) AS BIGINT) AS cents,
             |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS b
             |  FROM events),
             |g AS (SELECT user_id, b, count(*) AS n, sum(cents) AS sc,
             |    max(cents) AS mc
             |  FROM e GROUP BY 1, 2)
             |SELECT user_id,
             |  CAST(sum(n) OVER w AS BIGINT) AS n_events,
             |  CAST(sum(sc) OVER w AS BIGINT) AS sum_cents,
             |  CAST(max(mc) OVER w AS BIGINT) AS max_cents
             |FROM g
             |WINDOW w AS (PARTITION BY user_id ORDER BY b
             |  ROWS UNBOUNDED PRECEDING)
             |ORDER BY user_id, n_events""".stripMargin)),

    // STREAMING LEFT-OUTER JOIN (x155) — x152's hard sibling: the OUTER
    // side of a stream-stream join is where watermark semantics bite,
    // because a null row may only be emitted once the GLOBAL watermark
    // proves no match can still arrive. Purchases are staged two batches
    // late for event_id % 6 = 1 (real late-data drops on the match side);
    // signups that never match emit null-extended rows when the watermark
    // passes s_ts + 4h, and signups whose window is still open at stream
    // end are withheld. The oracle recomputes the calibrated arithmetic
    // (all probed, not assumed): the global watermark is the MIN of the
    // per-side (ms-truncated max − delay) values; the late filter lags it
    // by one batch (wmLate_b = W_{b-2}); a pair survives iff BOTH rows
    // pass their arrival batch's late filter (state eviction is provably
    // subsumed: an evicted-left's match is always late-dropped first);
    // null-emission iff no admitted match AND s_ts + 4h < W_final — the
    // trailing flush batch does run the final eviction (probed). Strict-
    // vs-inclusive boundaries are measure-zero on microsecond event data.
    // Scale: two-sided state bounded by delay × arrival rate — and the
    // null-emission frontier is exactly the data-completeness watermark a
    // 100 TB pipeline publishes downstream.
    QueryDef(
      "x155_stream_outer_join",
      (s, d) => {
        val staged = events(s, d)
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
            eventBatch.as("q"))
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
            expr("CAST(CASE WHEN event_type = 'purchase' AND event_id % 6 = 1 " +
              "THEN least(q + 2, 3) ELSE q END AS INT)").as("b"))
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x155_events", "b", 4, "append") { stream =>
          val left = stream.filter(col("event_type") === "signup")
            .select(col("event_id").as("s_id"), col("user_id"), col("ts").as("s_ts"))
            .withWatermark("s_ts", "3 days")
            // interval bucketing (x152's probe-cost fix, shared via
            // [[graft.ops.BucketedRangeJoin]]): one bucket key on the
            // left, candidate duplication on the right; a signup still
            // emits its null row exactly once (the preserved LEFT side is
            // never exploded), and every potential match routes to the
            // signup's own bucket, so null-emission semantics are
            // unchanged.
            .withColumn("s_bkt",
              graft.ops.BucketedRangeJoin.bucketOf(col("s_ts"), 14400000000L))
          val right = stream.filter(col("event_type") === "purchase")
            .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
            .withWatermark("p_ts", "3 days")
            .withColumn("cand",
              graft.ops.BucketedRangeJoin.candidateBuckets(col("p_ts"), 14400000000L, dir = -1))
          left.join(right,
              col("user_id") === col("p_user") &&
                col("s_bkt") === col("cand") &&
                col("p_ts") > col("s_ts") &&
                col("p_ts") <= col("s_ts") + expr("INTERVAL 4 HOURS"),
              "left_outer")
            .select(col("user_id"), col("s_id"),
              unix_micros(col("s_ts")).as("s_us"),
              col("p_id"), unix_micros(col("p_ts")).as("p_us"))
        }
        out.orderBy("user_id", "s_id", "p_id")
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type,
             |    epoch_us(ts) AS us,
             |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS q
             |  FROM events WHERE event_type IN ('signup', 'purchase')),
             |e AS (SELECT *, CASE WHEN event_type = 'purchase' AND event_id % 6 = 1
             |    THEN LEAST(q + 2, 3) ELSE q END AS b FROM ev),
             |mb AS (SELECT b,
             |    max(CASE WHEN event_type = 'signup' THEN us END) AS ml,
             |    max(CASE WHEN event_type = 'purchase' THEN us END) AS mr
             |  FROM e GROUP BY b),
             |rm AS (SELECT b,
             |    max(ml) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cml,
             |    max(mr) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cmr
             |  FROM mb),
             |w AS (SELECT b, LEAST((cml // 1000) * 1000, (cmr // 1000) * 1000)
             |    - 259200000000 AS wv FROM rm),
             |wl AS (SELECT b, lag(wv, 2) OVER (ORDER BY b) AS wm_late FROM w),
             |sa AS (SELECT e.event_id AS s_id, e.user_id, e.us AS s_us
             |  FROM e JOIN wl ON e.b = wl.b
             |  WHERE e.event_type = 'signup'
             |    AND (wl.wm_late IS NULL OR e.us > wl.wm_late)),
             |pa AS (SELECT e.event_id AS p_id, e.user_id, e.us AS p_us
             |  FROM e JOIN wl ON e.b = wl.b
             |  WHERE e.event_type = 'purchase'
             |    AND (wl.wm_late IS NULL OR e.us > wl.wm_late)),
             |pairs AS (SELECT sa.user_id, sa.s_id, sa.s_us, pa.p_id, pa.p_us
             |  FROM sa JOIN pa ON pa.user_id = sa.user_id
             |    AND pa.p_us > sa.s_us AND pa.p_us <= sa.s_us + 14400000000),
             |fin AS (SELECT wv AS wfin FROM w WHERE b = 3),
             |nulls AS (SELECT sa.user_id, sa.s_id, sa.s_us,
             |    CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS BIGINT) AS p_us
             |  FROM sa, fin
             |  WHERE sa.s_us + 14400000000 < fin.wfin
             |    AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.s_id = sa.s_id))
             |SELECT user_id, s_id, s_us, p_id, p_us FROM pairs
             |UNION ALL SELECT user_id, s_id, s_us, p_id, p_us FROM nulls
             |ORDER BY user_id, s_id, p_id""".stripMargin)),

    // STREAMING CHECKPOINT RECOVERY (x156) — the exactly-once restart
    // contract: the query is KILLED after 2 of 4 micro-batches and a
    // brand-new query resumes from the same checkpoint (foreachBatch +
    // checkpointLocation — the production sink path; the memory sink
    // refuses append-mode recovery). Stateful dedup keys (event_id % 997)
    // recur across ALL four day-quartile batches, so post-restart batches
    // carry thousands of duplicates of keys first seen BEFORE the kill:
    //   - lost operator state -> those keys re-emit with b in {2,3};
    //   - lost source offsets -> run 2 reprocesses files 0-1 and every
    //     pre-restart emission appears twice;
    // either way the hash breaks. Emission payload is (dup_key, b) where
    // b = the row's staged batch: all in-batch duplicates of a key share
    // b, so the kept-row race inside dropDuplicates is invisible and the
    // emitted set is exactly {(k, min staged batch of k)} — which the
    // oracle computes as a plain GROUP BY. Scale: state is one entry per
    // distinct key (bounded here; unbounded keys take x151's
    // within-watermark form), and checkpoint recovery cost is offsets +
    // state reload — independent of history length, the property that
    // makes week-long streams restartable at 100 TB.
    QueryDef(
      "x156_stream_restart",
      (s, d) => {
        val staged = events(s, d)
          .select(
            (col("event_id") % 997).cast(LongType).as("dup_key"),
            eventBatch.as("stage_b"))
          .withColumn("b", col("stage_b").cast(LongType))
        val out = graft.streaming.StreamGate.replayStagedRestart(
          s, staged, "x156_events", "stage_b", 4, 2) { stream =>
          stream.dropDuplicates("dup_key").select(col("dup_key"), col("b"))
        }
        out.orderBy("dup_key")
      },
      Some("""WITH e AS (SELECT CAST(event_id % 997 AS BIGINT) AS dup_key,
             |    CAST(LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS BIGINT) AS b
             |  FROM events)
             |SELECT dup_key, min(b) AS b FROM e GROUP BY dup_key
             |ORDER BY dup_key""".stripMargin)),

    // EVENT-TIME TIMERS (x157) — the timer half of transformWithState
    // (x154 gated the typed-state half): gap-sessionization where the
    // OPEN session registers an idle timer at end + 30 min and the
    // watermark's passage fires it — `registerTimer` / `deleteTimer` /
    // `handleExpiredTimer` on the RocksDB store, the mechanism a
    // production pipeline uses to close idle state instead of holding
    // it forever. Spark processes each batch's input BEFORE its timers
    // (probed; SessionTimersSpec pins it), which collapses the semantics
    // to a closed form: every session closed by a later event has
    // batch-independent boundaries — exactly batch gap-sessionization —
    // and timer arithmetic decides only whether each user's LAST session
    // emits: iff floor((end_us + gap)/1000) <= ms_trunc(max ts) − delay
    // (the trailing AvailableNow flush batch applies the final
    // watermark; exact-tie boundary pinned in the spec). Scale: one
    // fixed-width state row + one timer per ACTIVE user — timers ARE the
    // eviction, so state is gap × arrival-rate bounded, not history-
    // bounded.
    QueryDef(
      "x157_stream_session_timers",
      (s, d) => {
        val staged = events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"),
            unix_micros(col("ts")).as("us"),
            eventBatch.as("b"))
        val out =
          graft.streaming.StreamGate.replayStaged(
            s, staged, "x157_events", "b", 4, "append",
            conf = Map(graft.streaming.StreamGate.RocksDb)) { stream =>
            graft.streaming.SessionTimers.sessions(
              stream.withWatermark("ts", "3 days")
                .as[graft.streaming.SessionTimers.EventIn](
                  org.apache.spark.sql.Encoders.product)).toDF()
          }
        out.orderBy("user_id", "start_us")
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
             |br AS (SELECT user_id, event_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |g AS (SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id
             |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM br),
             |sess AS (SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us,
             |    count(*) AS n_events FROM g GROUP BY 1, 2),
             |fin AS (SELECT (max(us) // 1000) - 259200000 AS wfin_ms FROM e),
             |ls AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY 1)
             |SELECT s.user_id, s.start_us, s.end_us,
             |  CAST(s.n_events AS BIGINT) AS n_events
             |FROM sess s JOIN ls ON s.user_id = ls.user_id, fin
             |WHERE s.sid < ls.last_sid
             |  OR (s.end_us + 1800000000) // 1000 <= fin.wfin_ms
             |ORDER BY s.user_id, s.start_us""".stripMargin)),

    // REAL FLAC DECODE (x158) — the lossless-audio leg next to x135/x136/
    // x153 (MP3) and x101/x102/x103 (images): ops/FlacFrames.scala walks
    // "fLaC" + STREAMINFO + frames and decodes CONSTANT / VERBATIM /
    // FIXED(0–4) and LPC subframes with rice-partitioned residuals,
    // verifying the header CRC-8 and whole-frame CRC-16 (RFC 9639).
    // doc_id%8=5 streams carry a fourth frame with an order-1 LPC
    // subframe (4-bit coefficient 4, shift 2 — the quantized-integer
    // prediction (4·s)>>2 = s makes the reconstruction the prefix sum of
    // the rice residuals, which the oracle predicts arithmetically; the
    // full arbitrary-coefficient path is pinned by FlacFramesSpec).
    // Paired construction: the FLAC bitstream is assembled bit-for-bit in
    // pure SQL (variable-length rice codes as '0'/'1' strings, CRC-8/
    // CRC-16 as aggregate() folds — no UDF), while the ORACLE predicts
    // the decoded samples ARITHMETICALLY from the same doc_id formula
    // without touching bits: a decoder that mis-reconstructs any fixed
    // predictor, rice quotient, zigzag, or CRC cannot hash-match
    // (position-weighted dot_s pins sample ORDER, not just the sum).
    // FlacFramesSpec adds the third independent construction (a Scala
    // bit-writer + hand-assembled vectors). Scale: narrow per-row decode,
    // no shuffle; corrupt/unsupported frames degrade one row.
    QueryDef(
      "x158_flac_decode",
      (s, d) => {
        def bin(e: String, n: Int) = s"lpad(conv(CAST($e AS BIGINT), 10, 2), $n, '0')"
        def s16(e: String) = bin(s"(($e) + 65536) % 65536", 16)
        def samp(f: String, i: String) =
          s"((doc_id * 37 + ($f) * 11 + ($i) * 7 + ($i) * ($i)) % 128 - 64)"
        def rice6(v: String) = {
          val zz = s"(CASE WHEN ($v) < 0 THEN -2 * ($v) - 1 ELSE 2 * ($v) END)"
          s"concat(repeat('0', CAST($zz DIV 64 AS INT)), '1', ${bin(s"$zz % 64", 6)})"
        }
        // subframe bodies (bit strings)
        val constBits = s"concat('00000000', ${s16(samp("0", "0"))})"
        val verbBits = "concat('00000010', aggregate(sequence(0, 7), CAST('' AS STRING), " +
          s"(a, i) -> concat(a, ${s16(samp("1", "i"))})))"
        val res = "(CASE doc_id % 3 " +
          s"WHEN 0 THEN ${samp("2", "i")} " +
          s"WHEN 1 THEN ${samp("2", "i")} - ${samp("2", "i - 1")} " +
          s"ELSE ${samp("2", "i")} - 2 * ${samp("2", "i - 1")} + ${samp("2", "i - 2")} END)"
        val fixedBits = s"concat('0', ${bin("8 + doc_id % 3", 6)}, '0', " +
          // sequence(0, -1) is DESCENDING in Spark, so the order-0 warmup
          // needs an explicit empty-string guard
          "CASE WHEN doc_id % 3 = 0 THEN '' ELSE " +
          "aggregate(sequence(0, doc_id % 3 - 1), CAST('' AS STRING), " +
          s"(a, i) -> concat(a, ${s16(samp("2", "i"))})) END, " +
          "'000000', '0110', " + // rice4 method, porder 0, param 6
          "aggregate(sequence(doc_id % 3, 7), CAST('' AS STRING), " +
          s"(a, i) -> concat(a, ${rice6(res)})))"
        // byte/crc machinery
        def crc8(arr: String) = s"aggregate($arr, 0, (c, b) -> aggregate(sequence(1, 8), " +
          "c ^ b, (a, t) -> CASE WHEN a >= 128 THEN ((a * 2) % 256) ^ 7 ELSE (a * 2) % 256 END))"
        def crc16(arr: String) = s"aggregate($arr, 0, (c, b) -> aggregate(sequence(1, 8), " +
          "c ^ (b * 256), (a, t) -> CASE WHEN a >= 32768 THEN ((a * 2) % 65536) ^ 32773 " +
          "ELSE (a * 2) % 65536 END))"
        def hdr(f: String) = s"array(255, 248, 96, 8, $f, 7)"
        def frameHex(f: String, bodyBits: String) = {
          val pb = s"concat($bodyBits, repeat('0', (8 - length($bodyBits) % 8) % 8))"
          val bodyBytes = s"transform(sequence(0, CAST(length($pb) DIV 8 AS INT) - 1), " +
            s"k -> CAST(conv(substr($pb, CAST(k * 8 + 1 AS INT), 8), 2, 10) AS INT))"
          val all = s"concat(${hdr(f)}, array(${crc8(hdr(f))}), $bodyBytes)"
          s"concat(array_join(transform($all, b -> lpad(hex(b), 2, '0')), ''), " +
            s"lpad(hex(${crc16(all)}), 4, '0'))"
        }
        // order-1 LPC: header '0'+100000+'0', 16-bit warm-up, prec-1=3,
        // shift=2, coef=4, then rice4/porder0/param6 residuals v_i−v_{i−1}
        val lpcBits = s"concat('01000000', ${s16(samp("3", "0"))}, " +
          "'0011', '00010', '0100', '000000', '0110', " +
          "aggregate(sequence(1, 7), CAST('' AS STRING), " +
          s"(a, i) -> concat(a, ${rice6(s"${samp("3", "i")} - ${samp("3", "i - 1")}")})))"
        val streamInfo = "664C61438000002200080008000000000000" +
          "0AC440F000000000" + "0" * 32
        val base = documents(s, d).filter(col("doc_id") < 24)
          .withColumn("fx0", expr(frameHex("0", constBits)))
          .withColumn("fx1", expr(frameHex("1", verbBits)))
          .withColumn("fx2", expr(frameHex("2", fixedBits)))
          .withColumn("fx3", expr(frameHex("3", lpcBits)))
          .withColumn("hx", expr(
            s"concat('$streamInfo', fx0, fx1, fx2, " +
              "CASE WHEN doc_id % 8 = 5 THEN fx3 ELSE '' END)"))
        graft.ops.FlacFrames.frames(
          base.select(col("doc_id").as("media_id"), unhex(col("hx")).as("media")))
          .toDF()
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH b AS (SELECT doc_id FROM documents WHERE doc_id < 24),
             |s AS (SELECT doc_id, f, i,
             |    CASE WHEN f = 0 THEN (doc_id * 37) % 128 - 64
             |      ELSE (doc_id * 37 + f * 11 + i * 7 + i * i) % 128 - 64 END AS v
             |  FROM b
             |  CROSS JOIN (SELECT unnest(range(0, 4)) AS f)
             |  CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
             |  WHERE f < 3 OR doc_id % 8 = 5),
             |ag AS (SELECT doc_id, f, sum(v) AS sum_s, sum((i + 1) * v) AS dot_s,
             |    min(v) AS min_s, max(v) AS max_s FROM s GROUP BY 1, 2)
             |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
             |  CAST(8 AS BIGINT) AS blocksize, CAST(44100 AS BIGINT) AS sample_rate,
             |  CAST(CASE WHEN f = 3 THEN 3 ELSE LEAST(f, 2) END AS BIGINT) AS subframe_type,
             |  CAST(CASE WHEN f = 2 THEN doc_id % 3 WHEN f = 3 THEN 1 ELSE 0 END AS BIGINT) AS pred_order,
             |  CAST(sum_s AS BIGINT) AS sum_s, CAST(dot_s AS BIGINT) AS dot_s,
             |  CAST(min_s AS BIGINT) AS min_s, CAST(max_s AS BIGINT) AS max_s,
             |  TRUE AS ok
             |FROM ag
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // UNIGRAM-TOKENIZER VITERBI (x159) — the segmentation half of the
    // tokenizer family (x54/x57/x104 cover BPE's merge side; this is the
    // SentencePiece-style side: given a unit vocabulary with additive
    // costs, find each word's MINIMUM-cost segmentation). The DP runs
    // entirely in codegen'd higher-order functions — an aggregate() over
    // positions whose accumulator is the best-cost ARRAY, with an inner
    // aggregate() over the vocabulary trying every unit ending at j — no
    // UDF, no shuffle: the classic "functions, not UDFs" escape hatch
    // carrying real dynamic programming. Words = the corpus' distinct
    // a-z words (4..18 chars) plus all pairwise concatenations (built
    // with nested transform() lambdas, not a cartesian join), so the DP
    // must pick multi-char units across original word boundaries.
    // Integer costs make ties cost-equal (only the min cost is emitted,
    // so tie-broken segmentations cannot diverge). The oracle runs the
    // SAME recurrence as a recursive CTE with a list accumulator —
    // engine-independent DP, two implementations. Scale: per-word narrow
    // compute over a corpus-vocabulary-sized frame; the vocab is a
    // broadcast-sized literal, the 100 TB shape for tokenizer scoring.
    QueryDef(
      "x159_unigram_viterbi",
      (s, d) => {
        val vocab: Seq[(String, Int)] =
          ('a' to 'z').map(c => c.toString -> 100) ++ Seq(
            "th" -> 150, "he" -> 155, "in" -> 140, "er" -> 150, "an" -> 145,
            "re" -> 152, "on" -> 148, "at" -> 147, "en" -> 151, "nd" -> 153,
            "ti" -> 149, "es" -> 150, "or" -> 154, "te" -> 150,
            "the" -> 180, "ing" -> 200, "and" -> 185, "ion" -> 205,
            "ent" -> 210, "for" -> 215, "ati" -> 207,
            "tion" -> 250, "ment" -> 260, "atio" -> 262)
        val sparkVocab = vocab
          .map { case (u, c) => s"named_struct('u', '$u', 'c', CAST($c AS BIGINT))" }
          .mkString("array(", ", ", ")")
        val words = documents(s, d)
          .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
          .filter(length(col("w")).between(4, 18))
          .distinct()
        val all = words.agg(collect_list(col("w")).as("ws"))
          .select(explode(expr(
            "concat(ws, flatten(transform(ws, w1 -> transform(ws, w2 -> concat(w1, w2)))))"))
            .as("word"))
          .distinct()
        all
          .withColumn("cost", expr(
            s"""aggregate(sequence(1, length(word)), array(CAST(0 AS BIGINT)),
               |  (acc, j) -> array_append(acc,
               |    aggregate($sparkVocab, CAST(4611686018427387904 AS BIGINT),
               |      (m, v) -> CASE WHEN j >= length(v.u)
               |          AND substr(word, CAST(j - length(v.u) + 1 AS INT), length(v.u)) = v.u
               |        THEN least(m, element_at(acc, CAST(j - length(v.u) + 1 AS INT)) + v.c)
               |        ELSE m END)),
               |  acc -> element_at(acc, CAST(length(word) + 1 AS INT)))""".stripMargin))
          .select(col("word"), length(col("word")).cast(LongType).as("len"),
            col("cost"),
            (length(col("word")).cast(LongType) * 100 - col("cost")).as("savings"))
          .orderBy("word")
      },
      Some {
        val duckVocab =
          (('a' to 'z').map(c => c.toString -> 100) ++ Seq(
            "th" -> 150, "he" -> 155, "in" -> 140, "er" -> 150, "an" -> 145,
            "re" -> 152, "on" -> 148, "at" -> 147, "en" -> 151, "nd" -> 153,
            "ti" -> 149, "es" -> 150, "or" -> 154, "te" -> 150,
            "the" -> 180, "ing" -> 200, "and" -> 185, "ion" -> 205,
            "ent" -> 210, "for" -> 215, "ati" -> 207,
            "tion" -> 250, "ment" -> 260, "atio" -> 262))
            .map { case (u, c) => s"{'u': '$u', 'c': $c}" }
            .mkString("[", ", ", "]")
        s"""WITH RECURSIVE
           |raw AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
           |  FROM documents),
           |w AS (SELECT DISTINCT w FROM raw WHERE length(w) BETWEEN 4 AND 18),
           |allw AS (SELECT w AS word FROM w
           |  UNION SELECT a.w || b.w AS word FROM w a, w b),
           |dp AS (
           |  SELECT word, 0 AS j, [CAST(0 AS BIGINT)] AS bests FROM allw
           |  UNION ALL
           |  SELECT word, j + 1, list_append(bests,
           |    list_min(list_filter(list_transform($duckVocab, t ->
           |      CASE WHEN j + 1 >= length(t.u)
           |          AND substr(word, j + 2 - length(t.u), length(t.u)) = t.u
           |        THEN bests[j + 2 - length(t.u)] + t.c ELSE NULL END),
           |      y -> y IS NOT NULL)))
           |  FROM dp WHERE j < length(word))
           |SELECT word, CAST(length(word) AS BIGINT) AS len,
           |  CAST(bests[length(word) + 1] AS BIGINT) AS cost,
           |  CAST(100 * length(word) - bests[length(word) + 1] AS BIGINT) AS savings
           |FROM dp WHERE j = length(word) ORDER BY word""".stripMargin
      }),

    // MLLIB LSH DIFFERENTIAL TWIN (x160) — x25's discipline (GraphX twin
    // for components) applied to near-dup search: the SAME corpus slice
    // runs through spark.ml's MinHashLSH (fit + approxSimilarityJoin,
    // fixed seed → deterministic) AND through this repo's exact
    // inverted-index Jaccard machinery, and the gate pins their
    // AGREEMENT as error contracts (the x37 accepted class — MLlib's
    // internal hash coefficients are not oracle-computable, so the
    // oracle asserts the exact pair count plus three booleans):
    //   subset_ok — every MLlib pair really is similar (jac > 0.34,
    //     slack below MLlib's 0.35 post-filter so float boundaries
    //     can't flip it);
    //   dist_ok  — MLlib's keyDistance equals our integer-rational
    //     Jaccard to 1e-9 on every returned pair (the genuine
    //     cross-validation: two independent Jaccard implementations);
    //   recall_ok — ≥ 70% of strong pairs (jac > 0.45 exact-rational)
    //     are found (8 OR'd tables ⇒ expected recall ~0.99 at 0.45).
    // Shingles are dictionary-encoded (row_number over the sorted
    // vocabulary, capped at 512) into dense binary vectors via
    // ml.functions.array_to_vector — no UDF. Scale: the slice is
    // bounded (doc_id < 200); the production path is x03's banded LSH,
    // this gate certifies the library composes with the MLlib
    // ecosystem and agrees with it where their semantics overlap.
    QueryDef(
      "x160_mllib_lsh_twin",
      (s, d) => {
        val docs = documents(s, d).filter(col("doc_id") < 200)
          .select(col("doc_id"), lower(col("text")).as("t"))
        val sh = docs.select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, length(t) - 2), " +
            "i -> substr(t, CAST(i AS INT), 3)))")).as("g"))
        val ids = sh.select("g").distinct()
          .withColumn("gid", row_number().over(Window.orderBy("g")))
          .filter(col("gid") <= 512) // vocab cap, same on both engines
        val kept = sh.join(broadcast(ids), "g").select(col("doc_id"), col("gid"))
        val byDoc = kept.groupBy("doc_id")
          .agg(sort_array(collect_set(col("gid"))).as("gids"))
          .localCheckpoint(eager = true) // feeds vectors AND sizes
        val vecs = byDoc.withColumn("features",
          org.apache.spark.ml.functions.array_to_vector(expr(
            "transform(sequence(0, 512), i -> " +
              "CASE WHEN array_contains(gids, i) THEN 1.0D ELSE 0.0D END)")))
        val model = new org.apache.spark.ml.feature.MinHashLSH()
          .setNumHashTables(8).setSeed(42L)
          .setInputCol("features").setOutputCol("hashes")
          .fit(vecs)
        val found = model.approxSimilarityJoin(vecs, vecs, 0.65, "dist")
          .select(col("datasetA.doc_id").as("d1"),
            col("datasetB.doc_id").as("d2"), col("dist"))
          .filter(col("d1") < col("d2"))
        val sz = byDoc.select(col("doc_id"), size(col("gids")).as("n"))
        val pairs = kept.as("a")
          .join(kept.as("b"),
            col("a.gid") === col("b.gid") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("inter"))
          .join(broadcast(sz.select(col("doc_id").as("d1"), col("n").as("n1"))), "d1")
          .join(broadcast(sz.select(col("doc_id").as("d2"), col("n").as("n2"))), "d2")
          .withColumn("un", col("n1") + col("n2") - col("inter"))
          .localCheckpoint(eager = true) // strong set + found-side audit
        val audit = found.join(pairs, Seq("d1", "d2"), "left")
          .agg(
            coalesce(expr("every(inter * 50 > un * 17)"), lit(true)).as("subset_ok"),
            coalesce(expr(
              "every(abs(dist - (1.0D - CAST(inter AS DOUBLE) / un)) < 1e-9)"),
              lit(true)).as("dist_ok"))
          .withColumn("k", lit(1))
        val strong = pairs.filter(col("inter") * 20 > col("un") * 9)
        val recall = strong
          .join(found.select("d1", "d2"), Seq("d1", "d2"), "left_semi")
          .agg(count(lit(1)).as("n_hit")).withColumn("k", lit(1))
        val nStrong = strong.agg(count(lit(1)).as("n_strong")).withColumn("k", lit(1))
        nStrong.join(audit, "k").join(recall, "k")
          .select(col("n_strong"), col("subset_ok"), col("dist_ok"),
            (col("n_hit") * 10 >= col("n_strong") * 7).as("recall_ok"))
      },
      Some("""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents
             |  WHERE doc_id < 200),
             |sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 3) AS g
             |  FROM d, unnest(range(1, length(t) - 1)) AS u(i)),
             |ids AS (SELECT g, row_number() OVER (ORDER BY g) AS gid
             |  FROM (SELECT DISTINCT g FROM sh)),
             |kept AS (SELECT sh.doc_id, ids.gid FROM sh JOIN ids USING (g)
             |  WHERE gid <= 512),
             |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
             |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
             |  FROM kept a JOIN kept b ON a.gid = b.gid AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |j AS (SELECT d1, d2, inter, s1.n + s2.n - inter AS un
             |  FROM pairs JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id)
             |SELECT CAST(count(*) FILTER (WHERE inter * 20 > un * 9) AS BIGINT)
             |    AS n_strong,
             |  TRUE AS subset_ok, TRUE AS dist_ok, TRUE AS recall_ok
             |FROM j""".stripMargin)),

    // OBSERVED-PASS AUDIT METRICS (x161) — `Dataset.observe` +
    // `Observation`: named accumulator aggregates collected DURING a
    // pass, with no second scan. This is the 100 TB audit posture — a
    // production write job publishes row counts / checksums / ranges as
    // a side effect of the one pass it already makes, instead of paying
    // a full re-read to validate what it wrote (the reference validates
    // by re-querying Neo4j after load, main.py:385-398 — a second pass).
    // The gate: observe 5 metrics on the filtered stream feeding a
    // group-agg, then emit metrics + the downstream agg's own total and
    // a consistency boolean (metrics row count == sum of group counts —
    // i.e. the observation saw exactly the rows the agg consumed). The
    // DuckDB oracle computes the same numbers with plain aggregates, so
    // a metric that double-counts retried partitions or misses rows
    // cannot hash-match. The sum is observed as DECIMAL (exact,
    // order-independent) then cast once to DOUBLE (QueryDef.dsum's
    // parity rule). Driver sees only the 5-value metric map and 3 group
    // rows — no data collect.
    QueryDef(
      "x161_observe_audit",
      (s, d) => {
        import org.apache.spark.sql.Observation
        val li = s.read.parquet(s"$d/lineitem.parquet")
        val obs = Observation("x161_metrics")
        val pass = li.filter(col("l_quantity") > 5)
          .observe(obs,
            count(lit(1)).as("n_seen"),
            sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("price_dec"),
            min(col("l_orderkey")).as("min_ok"),
            max(col("l_orderkey")).as("max_ok"),
            count(when(col("l_returnflag") === "R", lit(1))).as("n_flag_r"))
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        val groupsTotal = pass.collect().map(_.getAs[Long]("n")).sum
        val m = obs.get
        val nSeen = m("n_seen").asInstanceOf[Long]
        import s.implicits._
        Seq((nSeen,
          m("price_dec").asInstanceOf[java.math.BigDecimal].doubleValue,
          m("min_ok").asInstanceOf[Long],
          m("max_ok").asInstanceOf[Long],
          m("n_flag_r").asInstanceOf[Long],
          groupsTotal,
          nSeen == groupsTotal))
          .toDF("n_seen", "sum_price", "min_ok", "max_ok", "n_flag_r",
            "groups_total", "consistent")
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_seen,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             |    AS sum_price,
             |  CAST(min(l_orderkey) AS BIGINT) AS min_ok,
             |  CAST(max(l_orderkey) AS BIGINT) AS max_ok,
             |  CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
             |    AS n_flag_r,
             |  CAST(count(*) AS BIGINT) AS groups_total,
             |  TRUE AS consistent
             |FROM lineitem WHERE l_quantity > 5""".stripMargin)),

    // XML INGESTION (x162) — `from_xml` (Spark 4's native XML parser:
    // attributes, nested elements, repeated-element arrays) plus the
    // classic `xpath_long` path probe, by PAIRED CONSTRUCTION (x154/
    // x158's discipline): each event row is rendered into a real XML
    // document whose attribute (`id="N"`), nested scalar (`<k>`), and
    // repeated `<t>` children are pure functions of event_id — so the
    // DuckDB oracle predicts every extraction ARITHMETICALLY without an
    // XML parser. A wrong attribute prefix, dropped array element, or
    // 1-off xpath index cannot hash-match. Internal cross-check: the
    // xpath leg must agree with the from_xml leg on the same field.
    // Scale: per-row parse expressions feeding one partial-combined agg
    // on event_type; no UDF — the crawl-ingest posture (sitemaps/RSS/
    // MathML land as XML at corpus scale). StAX parse is a real ~20 µs/row
    // cost that grows linearly with the fixture, so the GATE bounds its
    // corpus to a fixed 60k-event slice (the x86 lesson: price the
    // surface, not fixture replication) — the oracle twin applies the
    // identical bound. The slice is REPARTITIONED before the parse: a
    // bounded slice of a small file is otherwise however many parquet
    // splits the FIXTURE's byte size produced (1 split at sf0.1, ~4 at
    // 10× — the round-8 "inversion": 10× measured FASTER because its
    // bigger file happened to parallelize the same 60k rows). One
    // round-robin exchange of 60k tiny rows buys full-width parse
    // parallelism at every SF.
    QueryDef(
      "x162_xml_decode",
      (s, d) => {
        val ev = s"parquet.`$d/events.parquet`"
        // Round 13: the round-robin exchange moved BELOW the construction
        // — it now carries the two raw columns and the document build (an
        // interpreted aggregate() lambda per row) runs post-exchange at
        // session width instead of single-threaded inside the one-split
        // scan (guide §2.3 project-early / §2.2); width derives from
        // defaultParallelism, not a local[32] literal. The xpath probe leg
        // runs through graft's codegen StaxXmlLong (one streaming pass,
        // per-thread parser reuse — guide §4/§4.5) instead of xpath_long's
        // per-row DOM build + JAXP XPath walk; it stays a genuinely
        // independent second parse of the same bytes, cross-checked
        // against from_xml by the oracle (xp_k ≡ sum_k arithmetically).
        val width = s.sparkContext.defaultParallelism
        val p = s.sql(
          s"""SELECT event_type,
             |  concat('<e id="', CAST(event_id AS STRING), '"><k>',
             |    CAST(event_id % 97 AS STRING), '</k><tags>',
             |    CASE WHEN event_id % 4 >= 1 THEN
             |      aggregate(sequence(1L, event_id % 4), '',
             |        (acc, i) -> concat(acc, '<t>', CAST(i AS STRING), '</t>'))
             |    ELSE '' END,
             |    '</tags></e>') AS xml
             |FROM (SELECT /*+ REPARTITION($width) */ event_type, event_id
             |      FROM $ev WHERE event_id < 60000)""".stripMargin)
          .withColumn("r", expr(
            "from_xml(xml, '_id BIGINT, k BIGINT, tags STRUCT<t: ARRAY<BIGINT>>')"))
        p.groupBy("event_type").agg(
            sum(col("r._id")).cast(LongType).as("sum_id"),
            sum(col("r.k")).cast(LongType).as("sum_k"),
            sum(expr("aggregate(coalesce(r.tags.t, array()), 0L, (a, v) -> a + v)"))
              .cast(LongType).as("sum_tags"),
            count(expr("element_at(r.tags.t, 1)")).cast(LongType).as("n_first"),
            sum(graft.functions.StaxXmlLong.extract(col("xml"), "k"))
              .cast(LongType).as("xp_k"),
            count(lit(1)).cast(LongType).as("n"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  CAST(sum(event_id) AS BIGINT) AS sum_id,
             |  CAST(sum(event_id % 97) AS BIGINT) AS sum_k,
             |  CAST(sum((event_id % 4) * (event_id % 4 + 1) // 2) AS BIGINT)
             |    AS sum_tags,
             |  CAST(count(CASE WHEN event_id % 4 >= 1 THEN 1 END) AS BIGINT)
             |    AS n_first,
             |  CAST(sum(event_id % 97) AS BIGINT) AS xp_k,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM events WHERE event_id < 60000
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // PERSISTED HLL SKETCH ROLLUP (x163) — the DataSketches binary-HLL
    // surface (`hll_sketch_agg` → VARBINARY, `hll_union_agg`,
    // `hll_sketch_estimate`), which is what x147's approx_count_distinct
    // (internal HLL++, not persistable) cannot do: sketch state that
    // SURVIVES serialization. That is the incremental-profiling posture
    // at 100 TB — daily jobs persist per-partition sketches (bytes, not
    // row sets), and any later union answers cross-window distincts
    // without re-reading the data. The gate proves the full life cycle:
    // per-(event_type, week) sketches are built, WRITTEN TO PARQUET,
    // read back, and union-merged per event_type. Both booleans are
    // x37-class error contracts at ~3× lgK=12's ±1.6% rsd: est_ok pins
    // the direct estimate within 5% of exact distinct, merge_ok pins the
    // estimate of the RELOADED-then-unioned weekly sketches within the
    // same bound — corrupted bytes after the parquet round-trip, a
    // dropped weekly sketch, or a broken register merge all blow the
    // bound. (Exact equality between the direct and merged estimates is
    // NOT a law: DataSketches keeps an order-dependent HIP accumulator
    // while coupons stream in, so two groupings of the same rows can
    // differ by a few counts — measured ±0.7% at sf0.1 — which is why
    // the gate pins bounds, not bits.) Estimates are not
    // oracle-computable (DataSketches internals), so the oracle asserts
    // exact counts + booleans. Scale: one partial-combined sketch agg,
    // a bytes-only write/read, and a 5-group union.
    QueryDef(
      "x163_hll_sketch_store",
      (s, d) => {
        val weekly = events(s, d)
          .groupBy(col("event_type"),
            weekofyear(col("ts")).as("wk"))
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_x163_" +
          s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
        weekly.write.mode("overwrite").parquet(store)
        try {
          val reloaded = s.read.parquet(store)
            .groupBy("event_type")
            .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
          val direct = events(s, d)
            .groupBy("event_type")
            .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
              .as("est_direct"),
              countDistinct(col("user_id")).as("nd_exact"))
          direct.join(reloaded, "event_type")
            .select(col("event_type"), col("nd_exact").cast(LongType).as("nd_exact"),
              (abs(col("est_merged") - col("nd_exact")) * 100 <=
                col("nd_exact") * 5).as("merge_ok"),
              (abs(col("est_direct") - col("nd_exact")) * 100 <=
                col("nd_exact") * 5).as("est_ok"))
            .orderBy("event_type")
            .localCheckpoint(true)
        } finally {
          val p = new org.apache.hadoop.fs.Path(store)
          try p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: Exception => () }
        }
      },
      Some("""SELECT event_type,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS nd_exact,
             |  TRUE AS merge_ok, TRUE AS est_ok
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // STREAM-STATIC JOIN (x164) — the enrichment shape every production
    // stream runs before anything else: a micro-batched fact stream
    // joined against a STATIC dimension table (the reference's entity-id
    // join, main.py:332-355, is exactly this shape run in batch). Unlike
    // x152/x155's stream-stream joins there is NO join state — the
    // static side is re-planned each micro-batch and broadcast (an
    // explicit broadcast() hint below, the 100 TB posture for a dim that
    // fits an executor); the gate proves per-batch enrichment of an
    // incrementally-arriving fact side converges to the batch join,
    // including facts with NO dim match (left_outer null leg) — all
    // hash-compared against DuckDB's batch join. Integer cents make the
    // rollup exact.
    QueryDef(
      "x164_stream_static_join",
      (s, d) => {
        val dim = broadcast(
          customer(s, d).select(col("c_custkey"), col("c_mktsegment")))
        val out = graft.streaming.StreamGate.replay(
          s, events(s, d).select(col("user_id"), col("event_type"), col("value")),
          name = "x164_events", files = 4, mode = "append") { stream =>
          stream
            .withColumn("cents", floor(col("value") * 100).cast(LongType))
            // user ids 1..150 enrich; a shifted probe key (user_id + 1e7,
            // beyond any SF's custkey range) exercises the no-match null
            // leg for every 7th row at every scale.
            .withColumn("k",
              when(col("cents") % 7 === 0, col("user_id") + 10000000L)
                .otherwise(col("user_id")))
            .join(dim, col("k") === col("c_custkey"), "left_outer")
            // project before the sink: the gate consumes 3 columns, and
            // every extra column is paid per-event through the replay sink
            .select(col("c_mktsegment"), col("event_type"), col("cents"))
        }
        out.groupBy(coalesce(col("c_mktsegment"), lit("(none)")).as("segment"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .orderBy("segment", "event_type")
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |    CAST(floor("value" * 100) AS BIGINT) AS cents FROM events),
             |k AS (SELECT event_type, cents,
             |    CASE WHEN cents % 7 = 0 THEN user_id + 10000000 ELSE user_id END
             |      AS k FROM e)
             |SELECT coalesce(c.c_mktsegment, '(none)') AS segment, k.event_type,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(k.cents) AS BIGINT) AS sum_cents
             |FROM k LEFT JOIN customer c ON k.k = c.c_custkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // CSV INGESTION (x165) — `from_csv` with the quoting corner cases a
    // crawl manifest actually contains: quoted fields holding the
    // delimiter, RFC-4180 doubled-quote escapes, empty fields, and
    // SHORT (malformed) rows that must surface as nulls under PERMISSIVE
    // mode rather than kill the job. Paired construction: each line is
    // rendered from event_id arithmetic (field 2 cycles through a
    // 4-entry pool of adversarial strings — comma-bearing, quote-
    // bearing, empty, plain), so the oracle predicts every parsed field
    // ARITHMETICALLY. A parser that mis-splits on the embedded comma,
    // mangles the doubled quote, or drops short rows instead of
    // null-filling cannot hash-match. Two pinned Spark-CSV semantics:
    // RFC-4180 doubled-quote unescaping requires escape='"' (the default
    // escape is backslash — with it, `""` survives verbatim and the
    // n_s_exact leg fails), and an empty field parses to NULL (nullValue
    // defaults to ""), counted by n_empty among well-formed rows. Scale:
    // per-row parse into one partial-combined agg; the ingest twin of
    // x162's XML leg, bounded to the same fixed 60k-event slice.
    QueryDef(
      "x165_csv_decode",
      (s, d) => {
        val ev = s"parquet.`$d/events.parquet`"
        s.sql(s"""WITH src AS (SELECT event_type, event_id,
                 |    element_at(array('plain', 'a,b', 'say "hi"', ''),
                 |      CAST(event_id % 4 AS INT) + 1) AS f2
                 |  FROM $ev WHERE event_id < 60000),
                 |lines AS (SELECT event_type,
                 |    CASE WHEN event_id % 11 = 3
                 |      THEN CAST(event_id AS STRING)  -- short row: 1 of 3 fields
                 |      ELSE concat(CAST(event_id AS STRING), ',',
                 |        '"', replace(f2, '"', '""'), '"', ',',
                 |        CAST(event_id % 89 AS STRING)) END AS line,
                 |    f2 FROM src),
                 |p AS (SELECT event_type, f2,
                 |    from_csv(line, 'id BIGINT, s STRING, v BIGINT',
                 |      map('escape', '"')) AS r
                 |  FROM lines)
                 |SELECT event_type,
                 |  CAST(sum(r.id) AS BIGINT) AS sum_id,
                 |  CAST(sum(r.v) AS BIGINT) AS sum_v,
                 |  CAST(count(CASE WHEN r.v IS NULL THEN 1 END) AS BIGINT)
                 |    AS n_short,
                 |  CAST(count(CASE WHEN r.s = f2 THEN 1 END) AS BIGINT)
                 |    AS n_s_exact,
                 |  CAST(count(CASE WHEN r.v IS NOT NULL AND r.s IS NULL
                 |    THEN 1 END) AS BIGINT) AS n_empty,
                 |  CAST(count(*) AS BIGINT) AS n
                 |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""WITH src AS (SELECT event_type, event_id,
             |    (['plain', 'a,b', 'say "hi"', ''])[(event_id % 4) + 1] AS f2,
             |    event_id % 11 = 3 AS short FROM events WHERE event_id < 60000)
             |SELECT event_type,
             |  CAST(sum(event_id) AS BIGINT) AS sum_id,
             |  CAST(sum(CASE WHEN NOT short THEN event_id % 89 END) AS BIGINT)
             |    AS sum_v,
             |  CAST(count(CASE WHEN short THEN 1 END) AS BIGINT) AS n_short,
             |  CAST(count(CASE WHEN NOT short AND f2 <> '' THEN 1 END)
             |    AS BIGINT) AS n_s_exact,
             |  CAST(count(CASE WHEN NOT short AND f2 = '' THEN 1 END) AS BIGINT)
             |    AS n_empty,
             |  CAST(count(*) AS BIGINT) AS n
             |FROM src GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // LEGACY ARBITRARY-STATE API (x166) — `flatMapGroupsWithState`, the
    // pre-Spark-4 stateful-processing surface the installed base actually
    // runs (x154/x157 gate its successor transformWithState; this gates
    // the API a migrating user leaves FROM). streaming/StatefulEnrichment
    // annotates each event with the user's running sequence number and a
    // first-seen flag — the "have I already enriched this entity"
    // bookkeeping the reference did by re-reading its own output file
    // (main.py:341-348). Replayed through 4 explicit day-quartile
    // micro-batches: the emitted seq equals the rank of the event within
    // its user ordered by (batch, event_id) — the processor sorts within
    // the group iterator, batch order does the rest — so the DuckDB twin
    // is one row_number() window. A state cell lost between batches
    // restarts a user's sequence and cannot hash-match; first_seen fires
    // exactly once per user in its first carrying batch. Scale: one
    // counter per key in the state store, emission per event — the same
    // bounded-state shape as x154.
    QueryDef(
      "x166_flatmap_groups_state",
      (s, d) => {
        val staged = events(s, d)
          .select(col("user_id"), col("event_id"),
            eventBatch.as("b"))
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x166_events", "b", 4, "append") { stream =>
          graft.streaming.StatefulEnrichment.annotate(
            stream.as[graft.streaming.StatefulEnrichment.EventIn](
              org.apache.spark.sql.Encoders.product)).toDF()
        }
        out.orderBy("user_id", "seq_in_user")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS b
             |  FROM events),
             |r AS (SELECT user_id, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY b, event_id)
             |      AS seq_in_user
             |  FROM e)
             |SELECT user_id, event_id, seq_in_user,
             |  seq_in_user = 1 AS first_seen
             |FROM r ORDER BY user_id, seq_in_user""".stripMargin)),

    // IMA ADPCM DECODE (x167) — the predictive-audio leg between x40's
    // plain PCM and x158's FLAC: the IMA/DVI ADPCM recurrence (public
    // spec: 89-entry step table, 8-entry index table, 4-bit nibbles,
    // predictor clamp ±32767) decoded ENTIRELY in higher-order
    // functions — aggregate() over nibble positions with a
    // (predictor, index, sum, weighted-sum) struct accumulator, no UDF.
    // The nibble stream also round-trips through real BYTES (packed
    // lo-nibble-first per the IMA layout, unhex → BINARY → hex, unpacked
    // back and array-compared) — pinned by the every(unpack_ok) column
    // rather than by feeding the decode from the unpacked alias: HOFs
    // evaluate interpreted, and CollapseProject inlines an aliased
    // expression into EVERY lambda position that reads it, so
    // decode-from-unpack re-evaluated the 32-step pack fold O(steps²)
    // times per row (measured 32 s for 500 docs; this shape runs in
    // ~1 s). The DuckDB twin runs the SAME recurrence as a recursive
    // CTE from the arithmetic nibble definition — two independent
    // engine-native implementations of the codec (x159's discipline);
    // a wrong step-table entry, a missed clamp, or a swapped nibble
    // diverges within a few samples and the position-weighted checksum
    // cannot hash-match. Scale: per-row narrow decode, one
    // partial-combined agg, zero shuffle beyond the 10-group exchange.
    QueryDef(
      "x167_adpcm_decode",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        s.sql(s"""WITH n AS (SELECT doc_id,
                 |    transform(sequence(0, 63),
                 |      i -> CAST((doc_id * 7 + i * 13) % 16 AS INT)) AS nibs,
                 |    CAST(doc_id % 177 - 88 AS INT) AS pred0,
                 |    CAST(doc_id % 89 AS INT) AS idx0
                 |  FROM $doc WHERE doc_id < 500),
                 |packed AS (SELECT doc_id, pred0, idx0, nibs,
                 |    hex(unhex(aggregate(sequence(0, 31), '', (acc, j) ->
                 |      concat(acc,
                 |        substr('0123456789ABCDEF', nibs[CAST(2*j+1 AS INT)] + 1, 1),
                 |        substr('0123456789ABCDEF', nibs[CAST(2*j AS INT)] + 1, 1)))))
                 |      AS hx
                 |  FROM n),
                 |-- unpack the BYTES back to nibbles (lo-first: k even -> low
                 |-- hex char of byte k div 2) and pin equality ONCE per row;
                 |-- the decode reads the arithmetic `nibs` (see scaladoc:
                 |-- reading the unpacked alias from inside the fold would
                 |-- re-evaluate the pack fold per step under CollapseProject).
                 |unpacked AS (SELECT doc_id, pred0, idx0, nibs,
                 |    transform(sequence(0, 63), k -> CAST(conv(substr(hx,
                 |      CAST(2 * (k div 2) + IF(k % 2 = 0, 2, 1) AS INT), 1),
                 |      16, 10) AS INT)) = nibs AS unpack_ok
                 |  FROM packed),
                 |-- scalar let-bindings via single-element transform(array(x))
                 |-- (expression SQL has no WITH): a = (nk, step), then diff,
                 |-- then p2, innermost builds the next accumulator.
                 |dec AS (SELECT doc_id, unpack_ok, aggregate(sequence(0, 63),
                 |    named_struct('p', pred0, 'ix', idx0,
                 |      's', CAST(0 AS BIGINT), 'w', CAST(0 AS BIGINT)),
                 |    (st, k) -> element_at(transform(array(named_struct(
                 |        'nk', nibs[CAST(k AS INT)],
                 |        'step', element_at(array(${AdpcmTables.stepsSql}),
                 |          st.ix + 1))), a ->
                 |      element_at(transform(array(CAST(
                 |          (a.step div 8) + IF((a.nk & 4) > 0, a.step, 0)
                 |          + IF((a.nk & 2) > 0, a.step div 2, 0)
                 |          + IF((a.nk & 1) > 0, a.step div 4, 0) AS INT)), diff ->
                 |        element_at(transform(array(greatest(-32768, least(32767,
                 |            IF((a.nk & 8) > 0, st.p - diff, st.p + diff)))), p2 ->
                 |          named_struct('p', p2,
                 |            'ix', greatest(0, least(88, st.ix + element_at(
                 |              array(${AdpcmTables.idxSql}), (a.nk % 8) + 1))),
                 |            's', st.s + p2,
                 |            'w', st.w + CAST(p2 AS BIGINT) * CAST(k + 1 AS BIGINT))),
                 |          1)), 1)), 1)) AS r
                 |  FROM unpacked)
                 |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
                 |  CAST(count(*) AS BIGINT) AS n_docs,
                 |  CAST(sum(r.s) AS BIGINT) AS sum_samples,
                 |  CAST(sum(r.w) AS BIGINT) AS sum_weighted,
                 |  CAST(sum(r.p) AS BIGINT) AS sum_final_pred,
                 |  CAST(min(r.ix) AS BIGINT) AS min_final_idx,
                 |  CAST(max(r.ix) AS BIGINT) AS max_final_idx,
                 |  every(unpack_ok) AS pack_ok
                 |FROM dec GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some(s"""WITH RECURSIVE d AS (SELECT doc_id,
             |    CAST(doc_id % 177 - 88 AS INT) AS pred0,
             |    CAST(doc_id % 89 AS INT) AS idx0
             |  FROM documents WHERE doc_id < 500),
             |st(doc_id, k, p, ix, s, w) AS (
             |  SELECT doc_id, -1, pred0, idx0,
             |    CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM d
             |  UNION ALL
             |  SELECT doc_id, k + 1, p2, ix2, s + p2, w + p2 * (k + 2)
             |  FROM (
             |    SELECT doc_id, k, p, ix, s, w,
             |      GREATEST(-32768, LEAST(32767,
             |        CASE WHEN (nk & 8) > 0 THEN p - diff ELSE p + diff END))
             |        AS p2,
             |      GREATEST(0, LEAST(88, ix +
             |        ([-1,-1,-1,-1,2,4,6,8])[(nk % 8) + 1])) AS ix2
             |    FROM (
             |      SELECT *, (step // 8)
             |        + CASE WHEN (nk & 4) > 0 THEN step ELSE 0 END
             |        + CASE WHEN (nk & 2) > 0 THEN step // 2 ELSE 0 END
             |        + CASE WHEN (nk & 1) > 0 THEN step // 4 ELSE 0 END AS diff
             |      FROM (
             |        SELECT doc_id, k, p, ix, s, w,
             |          CAST((doc_id * 7 + (k + 1) * 13) % 16 AS INT) AS nk,
             |          ([${AdpcmTables.stepsSql}])[ix + 1] AS step
             |        FROM st WHERE k < 63)))
             |)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(s) AS BIGINT) AS sum_samples,
             |  CAST(sum(w) AS BIGINT) AS sum_weighted,
             |  CAST(sum(p) AS BIGINT) AS sum_final_pred,
             |  CAST(min(ix) AS BIGINT) AS min_final_idx,
             |  CAST(max(ix) AS BIGINT) AS max_final_idx,
             |  TRUE AS pack_ok
             |FROM st WHERE k = 63 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // REAL TIFF DECODE (x168) — the IFD-walking image leg next to PNG
    // (x36/x102), JPEG (x101), GIF (x103/x133): ops/TiffDecoder.scala
    // reads BOTH byte orders ("II"/"MM" — in TIFF, endianness is data),
    // walks the tag directory with inline vs offset-stored values, and
    // decodes the two baseline grayscale compressions (none + PackBits
    // run-length, TIFF 6.0 spec). Paired construction: header + IFD are
    // Scala-computed constant hex (TiffFixture — three variants: LE raw,
    // LE PackBits with literal AND run opcodes, big-endian TWO-strip
    // whose strip arrays live behind file offsets); pixel bytes are
    // assembled per-doc in SQL from arithmetic, so the oracle predicts
    // the decoded sums WITHOUT parsing — a swapped byte order, 1-off
    // strip offset, or mis-decoded run changes the position-weighted
    // checksum. Every 17th doc is truncated mid-IFD and must degrade to
    // no row (fake-route), not an error. Scale: narrow per-row decode,
    // zero shuffle beyond the 10-group exchange.
    QueryDef(
      "x168_tiff_decode",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        val media = s.sql(
          s"""WITH n AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS v
             |  FROM $doc WHERE doc_id < 400),
             |px AS (SELECT doc_id, v,
             |    CASE WHEN v = 1 THEN
             |      aggregate(sequence(0, 7), '', (acc, y) -> concat(acc,
             |        CASE WHEN y % 2 = 0 THEN concat('0F',
             |          aggregate(sequence(0, 15), '', (a2, x) -> concat(a2,
             |            lpad(hex((doc_id * 5 + (y * 16 + x) * 11) % 256), 2, '0'))))
             |        ELSE concat('F1', lpad(hex((doc_id + y) % 256), 2, '0'))
             |        END))
             |    ELSE
             |      aggregate(sequence(0, 127), '', (acc, i) -> concat(acc,
             |        lpad(hex((doc_id * 5 + i * 11) % 256), 2, '0')))
             |    END AS pxhex
             |  FROM n),
             |f AS (SELECT doc_id, concat(
             |    CASE v WHEN 0 THEN '${TiffFixture.leRaw}'
             |      WHEN 1 THEN '${TiffFixture.lePackBits}'
             |      ELSE '${TiffFixture.beTwoStrip}' END, pxhex) AS hx
             |  FROM px)
             |SELECT doc_id AS media_id,
             |  unhex(CASE WHEN doc_id % 17 = 5 THEN substr(hx, 1, 40) ELSE hx END)
             |    AS media
             |FROM f""".stripMargin)
        graft.ops.TiffDecoder.images(media).toDF()
          .groupBy((col("media_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_imgs"),
            sum(when(col("byte_order") === "II" && col("compression") === 1, 1L)
              .otherwise(0L)).as("n_le_raw"),
            sum(when(col("compression") === 32773, 1L).otherwise(0L))
              .as("n_packbits"),
            sum(when(col("byte_order") === "MM", 1L).otherwise(0L)).as("n_be"),
            sum(col("n_strips").cast(LongType)).as("n_strips"),
            sum(col("sum_px")).as("sum_px"),
            sum(col("wsum_px")).as("sum_wsum"))
          .orderBy("grp")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 3 AS v FROM documents
             |  WHERE doc_id < 400 AND doc_id % 17 <> 5),
             |p AS (SELECT d.doc_id, d.v, r.i,
             |    CASE WHEN d.v = 1 AND ((r.i // 16) % 2) = 1
             |      THEN (d.doc_id + (r.i // 16)) % 256
             |      ELSE (d.doc_id * 5 + r.i * 11) % 256 END AS px
             |  FROM d, range(0, 128) r(i)),
             |s AS (SELECT doc_id, v, sum(px) AS sp, sum(px * (i + 1)) AS wp
             |  FROM p GROUP BY 1, 2)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_imgs,
             |  CAST(count(CASE WHEN v = 0 THEN 1 END) AS BIGINT) AS n_le_raw,
             |  CAST(count(CASE WHEN v = 1 THEN 1 END) AS BIGINT) AS n_packbits,
             |  CAST(count(CASE WHEN v = 2 THEN 1 END) AS BIGINT) AS n_be,
             |  CAST(sum(CASE WHEN v = 2 THEN 2 ELSE 1 END) AS BIGINT) AS n_strips,
             |  CAST(sum(sp) AS BIGINT) AS sum_px,
             |  CAST(sum(wp) AS BIGINT) AS sum_wsum
             |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // STREAMING UPDATE MODE (x169) — the third and last output mode
    // (x143 gates complete, x144/x150/x155 append): update emits each
    // aggregation group AT MOST ONCE PER TRIGGER, only when that batch
    // changed it, carrying the post-merge value — the changelog shape a
    // downstream upsert sink (the reference's MERGE loop, main.py:304-330)
    // consumes. The emitted multiset is fully deterministic under staged
    // replay: one row per (day-window, event_type, batch that touched
    // it) holding the CUMULATIVE count/cents through that batch — so the
    // DuckDB twin is a running-sum window over per-batch partials. A
    // group emitted without change, a missed emission, or a pre-merge
    // value all change the multiset and cannot hash-match. Scale: state
    // is one row per open window-group; update mode is what bounds sink
    // traffic to changed groups (vs complete's full re-emit) — the
    // 100 TB changelog posture.
    QueryDef(
      "x169_stream_update_mode",
      (s, d) => {
        val staged = events(s, d)
          .select(col("ts"), col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents"),
            eventBatch.as("b"))
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x169_events", "b", 4, "update") { stream =>
          stream
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
            .select(unix_micros(col("window.start")).as("day_us"),
              col("event_type"), col("n"), col("sum_cents"))
        }
        out.orderBy("day_us", "event_type", "n")
      },
      Some("""WITH e AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us,
             |    event_type, CAST(floor("value" * 100) AS BIGINT) AS cents,
             |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS b
             |  FROM events),
             |g AS (SELECT day_us, event_type, b, count(*) AS pn,
             |    sum(cents) AS psc
             |  FROM e GROUP BY 1, 2, 3)
             |SELECT day_us, event_type,
             |  CAST(sum(pn) OVER w AS BIGINT) AS n,
             |  CAST(sum(psc) OVER w AS BIGINT) AS sum_cents
             |FROM g
             |WINDOW w AS (PARTITION BY day_us, event_type ORDER BY b
             |  ROWS UNBOUNDED PRECEDING)
             |ORDER BY day_us, event_type, n""".stripMargin)),

    // OGG PAGE WALK (x170) — the audio CONTAINER leg the payload decoders
    // (x158 FLAC, x135/x153 MP3) were missing: ops/OggPages.scala walks
    // RFC 3533 pages — capture scan, header-type flags, 64-bit granule,
    // lacing-value segment table (255 continues a packet, <255 ends one),
    // and OGG's CRC-32 variant (poly 0x04C11DB7, init 0, UNREFLECTED, no
    // final xor — three differences from zlib's crc32) over the page with
    // the CRC field zeroed. Paired construction, x158's discipline: two
    // pages per doc are assembled as INT byte-arrays in pure SQL — the
    // CRC computed by a nested aggregate() bit-fold and spliced back in —
    // page 1 carrying a 255-laced continued packet; every 13th doc gets
    // one payload byte flipped AFTER the CRC splice, so its page 1 MUST
    // fail CRC and degrade to its own loss while page 0 still decodes
    // (the resync contract). The oracle predicts granules, packet counts,
    // and payload checksums arithmetically — and excludes exactly the
    // corrupted pages. Scale: narrow per-row walk, zero shuffle beyond
    // the 10-group exchange.
    QueryDef(
      "x170_ogg_pages",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        def leN(e: String, n: Int) =
          s"transform(sequence(0, ${n - 1}), k -> " +
            s"CAST(shiftright(CAST($e AS BIGINT), 8 * CAST(k AS INT)) & 255 AS INT))"
        def crc32(arr: String) =
          s"aggregate($arr, CAST(0 AS BIGINT), (c, b) -> aggregate(sequence(1, 8), " +
            "c ^ (CAST(b AS BIGINT) * 16777216), (a, t) -> " +
            "CASE WHEN a >= 2147483648 THEN ((a * 2) % 4294967296) ^ 79764919 " +
            "ELSE (a * 2) % 4294967296 END))"
        def splice(pg: String, crc: String) =
          s"concat(slice($pg, 1, 22), ${leN(crc, 4)}, slice($pg, 27, size($pg) - 26))"
        val a0 = "concat(array(79, 103, 103, 83, 0, 2), " +
          s"${leN("doc_id * 3", 8)}, ${leN("doc_id % 1000", 4)}, " +
          "array(0, 0, 0, 0), array(0, 0, 0, 0), array(1, l1), " +
          "transform(sequence(0, l1 - 1), i -> CAST((doc_id + i * 17) % 256 AS INT)))"
        val a1 = "concat(array(79, 103, 103, 83, 0, 4), " +
          s"${leN("doc_id * 7", 8)}, ${leN("doc_id % 1000", 4)}, " +
          "array(1, 0, 0, 0), array(0, 0, 0, 0), array(3, 255, 5, 3), " +
          "transform(sequence(0, 259), i -> CAST((doc_id * 3 + i * 7) % 256 AS INT)), " +
          "transform(sequence(0, 2), i -> CAST((doc_id + 99 + i) % 256 AS INT)))"
        val media = s.sql(
          s"""WITH n AS (SELECT doc_id, CAST(20 + doc_id % 30 AS INT) AS l1
             |  FROM $doc WHERE doc_id < 300),
             |raw AS (SELECT doc_id, $a0 AS r0, $a1 AS r1 FROM n),
             |crcd AS (SELECT doc_id, r0, r1, ${crc32("r0")} AS c0,
             |    ${crc32("r1")} AS c1 FROM raw),
             |pages AS (SELECT doc_id, ${splice("r0", "c0")} AS pg0,
             |    ${splice("r1", "c1")} AS pg1 FROM crcd),
             |fin AS (SELECT doc_id, pg0,
             |    IF(doc_id % 13 = 4,
             |      concat(slice(pg1, 1, 40),
             |        array(CAST((element_at(pg1, 41) + 1) % 256 AS INT)),
             |        slice(pg1, 42, size(pg1) - 41)),
             |      pg1) AS pg1
             |  FROM pages)
             |SELECT doc_id AS media_id,
             |  unhex(aggregate(concat(pg0, pg1), '', (acc, b) ->
             |    concat(acc, lpad(hex(b), 2, '0')))) AS media
             |FROM fin""".stripMargin)
        graft.ops.OggPages.pages(media).toDF()
          .groupBy((col("media_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_pages"),
            sum(when(col("is_bos"), 1L).otherwise(0L)).as("n_bos"),
            sum(when(col("is_eos"), 1L).otherwise(0L)).as("n_eos"),
            sum(col("n_packets").cast(LongType)).as("n_packets"),
            sum(col("granule")).as("sum_granule"),
            sum(col("payload_len").cast(LongType)).as("payload_len"),
            sum(col("payload_sum")).as("payload_sum"))
          .orderBy("grp")
      },
      Some("""WITH d AS (SELECT doc_id, 20 + doc_id % 30 AS l1,
             |    doc_id % 13 <> 4 AS p1ok
             |  FROM documents WHERE doc_id < 300),
             |s0 AS (SELECT d.doc_id,
             |    sum((d.doc_id + r.i * 17) % 256) AS ps
             |  FROM d, range(0, 50) r(i) WHERE r.i < d.l1 GROUP BY 1),
             |s1 AS (SELECT d.doc_id,
             |    sum(CASE WHEN r.i < 260 THEN (d.doc_id * 3 + r.i * 7) % 256
             |      ELSE (d.doc_id + 99 + (r.i - 260)) % 256 END) AS ps
             |  FROM d, range(0, 263) r(i) WHERE d.p1ok GROUP BY 1),
             |pg AS (
             |  SELECT d.doc_id, TRUE AS bos, FALSE AS eos, 1 AS pk,
             |    d.doc_id * 3 AS gr, d.l1 AS pl, s0.ps
             |  FROM d JOIN s0 USING (doc_id)
             |  UNION ALL
             |  SELECT d.doc_id, FALSE, TRUE, 2, d.doc_id * 7, 263, s1.ps
             |  FROM d JOIN s1 USING (doc_id) WHERE d.p1ok)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_pages,
             |  CAST(count(CASE WHEN bos THEN 1 END) AS BIGINT) AS n_bos,
             |  CAST(count(CASE WHEN eos THEN 1 END) AS BIGINT) AS n_eos,
             |  CAST(sum(pk) AS BIGINT) AS n_packets,
             |  CAST(sum(gr) AS BIGINT) AS sum_granule,
             |  CAST(sum(pl) AS BIGINT) AS payload_len,
             |  CAST(sum(ps) AS BIGINT) AS payload_sum
             |FROM pg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SNAPPY BLOCK DECODE (x171) — the compression format a 100 TB lake
    // physically holds (parquet data pages, Kafka message sets):
    // ops/SnappyBlock.scala implements the public block format — LE
    // varint preamble, literal tags, and all the back-reference copy
    // forms including the OVERLAPPING copy (offset < length), snappy's
    // run-length idiom where the copy reads bytes it is itself writing.
    // Paired construction: each doc's block is assembled in SQL as hex —
    // literal A (arithmetic bytes), a 2-byte-offset copy with offset 7 <
    // length 13 (so out[p] = A[l1-7 + (p-l1) mod 7], a closed form the
    // oracle computes), a 1-byte-offset copy with offset 1 (a pure run of
    // A[l1-2]), and literal B — so the oracle predicts the decompressed
    // plane's checksum ARITHMETICALLY, per segment, without running any
    // decompressor. Every 19th doc gets its copy offset rewritten to 255
    // (beyond the output written so far) and must degrade to no row.
    // SnappyBlockSpec cross-validates against snappy-java's compressor
    // (whatever tag mix it emits must decode to the original bytes).
    // Scale: narrow per-row decode, zero shuffle beyond the 10-group
    // exchange.
    QueryDef(
      "x171_snappy_block",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        val media = s.sql(
          s"""WITH n AS (SELECT doc_id,
             |    CAST(30 + doc_id % 20 AS INT) AS l1,
             |    CAST(4 + doc_id % 8 AS INT) AS q
             |  FROM $doc WHERE doc_id < 400),
             |hx AS (SELECT doc_id, concat(
             |    lpad(hex(l1 + 18 + q), 2, '0'),
             |    lpad(hex((l1 - 1) * 4), 2, '0'),
             |    aggregate(sequence(0, l1 - 1), '', (acc, i) ->
             |      concat(acc, lpad(hex((doc_id + 3 * i) % 256), 2, '0'))),
             |    IF(doc_id % 19 = 7, '32FF00', '320700'),
             |    lpad(hex((q - 4) * 4 + 1), 2, '0'), '01',
             |    '10',
             |    aggregate(sequence(0, 4), '', (acc, i) ->
             |      concat(acc, lpad(hex((doc_id * 7 + i) % 256), 2, '0')))
             |  ) AS h FROM n)
             |SELECT doc_id AS media_id, unhex(h) AS media FROM hx""".stripMargin)
        graft.ops.SnappyBlock.blocks(media).toDF()
          .groupBy((col("media_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(col("out_len").cast(LongType)).as("out_len"),
            sum(col("n_literals").cast(LongType)).as("n_literals"),
            sum(col("n_copies").cast(LongType)).as("n_copies"),
            sum(col("sum_bytes")).as("sum_bytes"),
            sum(col("wsum_bytes")).as("wsum_bytes"))
          .orderBy("grp")
      },
      Some("""WITH d AS (SELECT doc_id, 30 + doc_id % 20 AS l1,
             |    4 + doc_id % 8 AS q
             |  FROM documents WHERE doc_id < 400 AND doc_id % 19 <> 7),
             |a AS (SELECT doc_id, r.i + 1 AS pos,
             |    (doc_id + 3 * r.i) % 256 AS v
             |  FROM d, range(0, 50) r(i) WHERE r.i < d.l1),
             |c1 AS (SELECT doc_id, l1 + r.k + 1 AS pos,
             |    (doc_id + 3 * (l1 - 7 + (r.k % 7))) % 256 AS v
             |  FROM d, range(0, 13) r(k)),
             |c2 AS (SELECT doc_id, l1 + 13 + r.k + 1 AS pos,
             |    (doc_id + 3 * (l1 - 2)) % 256 AS v
             |  FROM d, range(0, 11) r(k) WHERE r.k < d.q),
             |b AS (SELECT doc_id, l1 + 13 + q + r.i + 1 AS pos,
             |    (doc_id * 7 + r.i) % 256 AS v
             |  FROM d, range(0, 5) r(i)),
             |allb AS (SELECT * FROM a UNION ALL SELECT * FROM c1
             |  UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM b)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_blocks,
             |  CAST(count(*) AS BIGINT) AS out_len,
             |  CAST(count(DISTINCT doc_id) * 2 AS BIGINT) AS n_literals,
             |  CAST(count(DISTINCT doc_id) * 2 AS BIGINT) AS n_copies,
             |  CAST(sum(v) AS BIGINT) AS sum_bytes,
             |  CAST(sum(v * pos) AS BIGINT) AS wsum_bytes
             |FROM allb GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LZ4 BLOCK DECODE (x172) — x171's sibling for the OTHER codec a
    // parquet lake holds (LZ4_RAW data pages): ops/Lz4Block.scala
    // implements the public block format — token nibbles, 255-chained
    // length extensions, 2-byte LE offsets, overlapping matches, and the
    // literals-only end-of-block rule (no length preamble: the block ends
    // when input does, which makes truncation detection the decoder's
    // job). Paired construction: per-doc blocks assembled in SQL hex —
    // the first sequence's literal length (16..31) FORCES the 15+ext
    // encoding, its match has offset 5 < length 8 (closed form
    // out[p]=A[l1-5+(p-l1) mod 5]), the last sequence is literals-only —
    // so the oracle predicts the plane's checksum arithmetically. Every
    // 23rd doc gets a zero offset and must fake-route. Lz4BlockSpec
    // cross-validates against lz4-java's compressor. Scale: narrow
    // per-row decode, zero shuffle beyond the 10-group exchange.
    QueryDef(
      "x172_lz4_block",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        val media = s.sql(
          s"""WITH n AS (SELECT doc_id,
             |    CAST(16 + doc_id % 16 AS INT) AS l1
             |  FROM $doc WHERE doc_id < 400),
             |hx AS (SELECT doc_id, concat(
             |    'F4', lpad(hex(l1 - 15), 2, '0'),
             |    aggregate(sequence(0, l1 - 1), '', (acc, i) ->
             |      concat(acc, lpad(hex((doc_id + 3 * i) % 256), 2, '0'))),
             |    IF(doc_id % 23 = 9, '0000', '0500'),
             |    '60',
             |    aggregate(sequence(0, 5), '', (acc, i) ->
             |      concat(acc, lpad(hex((doc_id * 7 + i) % 256), 2, '0')))
             |  ) AS h FROM n)
             |SELECT doc_id AS media_id, unhex(h) AS media FROM hx""".stripMargin)
        graft.ops.Lz4Block.blocks(media).toDF()
          .groupBy((col("media_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_blocks"),
            sum(col("out_len").cast(LongType)).as("out_len"),
            sum(col("n_sequences").cast(LongType)).as("n_sequences"),
            sum(col("n_matches").cast(LongType)).as("n_matches"),
            sum(col("sum_bytes")).as("sum_bytes"),
            sum(col("wsum_bytes")).as("wsum_bytes"))
          .orderBy("grp")
      },
      Some("""WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS l1
             |  FROM documents WHERE doc_id < 400 AND doc_id % 23 <> 9),
             |a AS (SELECT doc_id, r.i + 1 AS pos,
             |    (doc_id + 3 * r.i) % 256 AS v
             |  FROM d, range(0, 32) r(i) WHERE r.i < d.l1),
             |m AS (SELECT doc_id, l1 + r.k + 1 AS pos,
             |    (doc_id + 3 * (l1 - 5 + (r.k % 5))) % 256 AS v
             |  FROM d, range(0, 8) r(k)),
             |b AS (SELECT doc_id, l1 + 8 + r.i + 1 AS pos,
             |    (doc_id * 7 + r.i) % 256 AS v
             |  FROM d, range(0, 6) r(i)),
             |allb AS (SELECT * FROM a UNION ALL SELECT * FROM m
             |  UNION ALL SELECT * FROM b)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_blocks,
             |  CAST(count(*) AS BIGINT) AS out_len,
             |  CAST(count(DISTINCT doc_id) * 2 AS BIGINT) AS n_sequences,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_matches,
             |  CAST(sum(v) AS BIGINT) AS sum_bytes,
             |  CAST(sum(v * pos) AS BIGINT) AS wsum_bytes
             |FROM allb GROUP BY 1 ORDER BY 1""".stripMargin)),

    // LSH BANDING COST AUDIT (x173) — the pair-stage instrument behind
    // SCALE.md's per-decade table, oracle-gated: one row of the banding
    // join's REAL work over the x18 clone corpus — bucket count, max
    // bucket occupancy, physically joined rows (Σ c·(c−1)/2, the
    // self-join's actual cost), distinct candidate pairs, and verified
    // (n_match ≥ 6) pairs. This is the observability a 100 TB dedup
    // deployment runs BEFORE the pair stage: superlinear joined_rows
    // growth across fixtures means band saturation (the x06 sign-bucket
    // failure mode; and how round 9 caught the scale generator's
    // stride-5 artifact — 97.7% of 100× candidates were cross-replica).
    // Plan: the same checkpointed band frame feeds one bucket rollup and
    // the bucket-keyed pair join; nothing quadratic outside the measured
    // quantity itself.
    QueryDef(
      "x173_lsh_pair_stats",
      (s, d) =>
        graft.ops.TextDedup.lshPairStats(docCorpus(s, d))
          .select(col("n_docs"), col("n_buckets"), col("max_bucket"),
            col("joined_rows"), col("n_candidates"), col("n_verified")),
      Some(s"""WITH $corpusSql,
             |${minhashSigSql("corpus")},
             |band AS (SELECT doc_id, CAST(floor(seed / 2) AS BIGINT) AS band,
             |  min(mh) || '|' || max(mh) AS bsig FROM sig GROUP BY 1, 2),
             |occ AS (SELECT band, bsig, count(*) AS c FROM band GROUP BY 1, 2),
             |bk AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             |  CAST(max(c) AS BIGINT) AS max_bucket,
             |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS joined_rows FROM occ),
             |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM band a
             |  JOIN band b ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
             |pm AS (SELECT c.a_id, c.b_id, count(CASE WHEN sa.mh = sb.mh THEN 1 END) AS n_match
             |  FROM cand c JOIN sig sa ON sa.doc_id = c.a_id
             |  JOIN sig sb ON sb.doc_id = c.b_id AND sb.seed = sa.seed GROUP BY 1, 2),
             |pc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
             |  CAST(sum(CASE WHEN n_match >= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified FROM pm),
             |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM sig)
             |SELECT nd.n_docs, bk.n_buckets, bk.max_bucket, bk.joined_rows,
             |  pc.n_candidates, pc.n_verified FROM nd, bk, pc""".stripMargin)),

    // REAL DEFLATE DECODE (x174) — the third hand-decoded block codec
    // next to snappy (x171) and LZ4 (x172), and the one underneath half
    // the container formats already gated (gzip members, ZIP entries,
    // PNG IDAT, XLSX parts): ops/DeflateBlock.scala decodes RFC 1951
    // stored, fixed-Huffman, and dynamic-Huffman blocks with canonical-
    // code reconstruction and LZ77 back-references. Paired construction,
    // three variants: a final stored block (LEN/NLEN check), a final
    // FIXED-HUFFMAN block whose literal codes the SQL bit-packs itself
    // (literals ≤ 143 are exactly the 8-bit codes 0x30+v; codes fill
    // MSB-first inside the LSB-first stream, so each output byte mixes
    // two adjacent reversed codes — the byte-reversal is the
    // multiply-mask-mod trick, and a decoder with the bit order wrong
    // cannot reproduce a single byte), and a two-block stored→fixed
    // chain pinning BFINAL handling. The oracle predicts every decoded
    // byte arithmetically. Every 23rd doc leads with BTYPE=3 and must
    // degrade to no row. Matches and dynamic blocks are spec-covered by
    // JDK Deflater cross-validation (DeflateBlockSpec), same pattern as
    // lz4-java for x172. Scale: narrow per-row decode, zero shuffle
    // beyond the 10-group exchange.
    QueryDef(
      "x174_deflate_block",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        // rev8(c) — classic reverse-byte multiply/mask/mod (public trick)
        def rv(c: String) = s"((($c) * ${0x0202020202L}) & ${0x010884422010L}) % 1023"
        // fixed-Huffman code for literal byte value v ≤ 143, reversed
        def rc(k: String) = rv(s"48 + (doc_id * 3 + ($k) * 7) % 144")
        // the n-literal fixed block as hex (n+2 bytes, formulas in the
        // comment above; EOB is seven 0 bits)
        def fixedHex(n: String) =
          s"""aggregate(sequence(0, ($n) + 1), '', (acc, k) -> concat(acc,
             |      lpad(hex(CASE
             |        WHEN k = 0 THEN 3 + ((${rc("0")}) * 8) % 256
             |        WHEN k < ($n) THEN (${rc("k - 1")}) div 32 + ((${rc("k")}) * 8) % 256
             |        WHEN k = ($n) THEN (${rc(s"($n) - 1")}) div 32
             |        ELSE 0 END), 2, '0')))""".stripMargin
        val media = s.sql(
          s"""WITH n AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS v,
             |    24 + doc_id % 16 AS sl, 20 + doc_id % 12 AS fl,
             |    10 + doc_id % 6 AS cl
             |  FROM $doc WHERE doc_id < 400),
             |hx AS (SELECT doc_id, CASE v
             |    WHEN 0 THEN concat('01',
             |      lpad(hex(sl % 256), 2, '0'), lpad(hex(sl div 256), 2, '0'),
             |      lpad(hex((65535 - sl) % 256), 2, '0'),
             |      lpad(hex((65535 - sl) div 256), 2, '0'),
             |      aggregate(sequence(0, sl - 1), '', (acc, i) ->
             |        concat(acc, lpad(hex((doc_id * 5 + i * 11) % 256), 2, '0'))))
             |    WHEN 1 THEN ${fixedHex("fl")}
             |    ELSE concat('00', '0800', 'F7FF',
             |      aggregate(sequence(0, 7), '', (acc, i) ->
             |        concat(acc, lpad(hex((doc_id + 9 * i) % 256), 2, '0'))),
             |      ${fixedHex("cl")})
             |    END AS h FROM n)
             |SELECT doc_id AS media_id,
             |  unhex(IF(doc_id % 23 = 9, concat('07', h), h)) AS media
             |FROM hx""".stripMargin)
        graft.ops.DeflateBlock.blocks(media).toDF()
          .groupBy((col("media_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_streams"),
            sum(col("out_len").cast(LongType)).as("out_len"),
            sum(col("n_blocks").cast(LongType)).as("n_blocks"),
            sum(col("n_stored").cast(LongType)).as("n_stored"),
            sum(col("n_fixed").cast(LongType)).as("n_fixed"),
            sum(col("n_dynamic").cast(LongType) +
              col("n_matches").cast(LongType)).as("n_dyn_or_match"),
            sum(col("sum_bytes")).as("sum_bytes"),
            sum(col("wsum_bytes")).as("wsum_bytes"))
          .orderBy("grp")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 3 AS v,
             |    24 + doc_id % 16 AS sl, 20 + doc_id % 12 AS fl,
             |    10 + doc_id % 6 AS cl
             |  FROM documents WHERE doc_id < 400 AND doc_id % 23 <> 9),
             |s0 AS (SELECT doc_id, r.i + 1 AS pos,
             |    (doc_id * 5 + r.i * 11) % 256 AS b
             |  FROM d, range(0, 40) r(i) WHERE v = 0 AND r.i < sl),
             |s1 AS (SELECT doc_id, r.i + 1 AS pos,
             |    (doc_id * 3 + r.i * 7) % 144 AS b
             |  FROM d, range(0, 32) r(i) WHERE v = 1 AND r.i < fl),
             |s2a AS (SELECT doc_id, r.i + 1 AS pos, (doc_id + 9 * r.i) % 256 AS b
             |  FROM d, range(0, 8) r(i) WHERE v = 2),
             |s2b AS (SELECT doc_id, 8 + r.i + 1 AS pos,
             |    (doc_id * 3 + r.i * 7) % 144 AS b
             |  FROM d, range(0, 16) r(i) WHERE v = 2 AND r.i < cl),
             |allb AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
             |  UNION ALL SELECT * FROM s2a UNION ALL SELECT * FROM s2b)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_streams,
             |  CAST(count(*) AS BIGINT) AS out_len,
             |  CAST(count(DISTINCT doc_id) + count(DISTINCT CASE
             |    WHEN doc_id % 3 = 2 THEN doc_id END) AS BIGINT) AS n_blocks,
             |  CAST(count(DISTINCT CASE WHEN doc_id % 3 <> 1 THEN doc_id END)
             |    AS BIGINT) AS n_stored,
             |  CAST(count(DISTINCT CASE WHEN doc_id % 3 <> 0 THEN doc_id END)
             |    AS BIGINT) AS n_fixed,
             |  CAST(0 AS BIGINT) AS n_dyn_or_match,
             |  CAST(sum(b) AS BIGINT) AS sum_bytes,
             |  CAST(sum(b * pos) AS BIGINT) AS wsum_bytes
             |FROM allb GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ORC ROUND-TRIP (x175) — the one columnar format Spark ships besides
    // parquet, previously ungated: write a fixed lineitem slice as ORC
    // PARTITIONED BY l_returnflag, read it back with a partition filter
    // AND a row-group predicate, and aggregate. What the gate pins: (a)
    // schema fidelity through the ORC writer/reader for BIGINT, DOUBLE,
    // STRING, and DATE columns (a date that shifts a day across the
    // round-trip changes min_ship); (b) partition pruning — the
    // l_returnflag = 'R' filter resolves against directory names, the
    // other two partitions are never opened; (c) predicate pushdown —
    // l_quantity < 25 lands in the ORC reader as a search argument
    // (visible as PushedFilters in the scan plan), so non-matching row
    // groups are skipped by their min/max statistics, not read and
    // discarded. The oracle computes the same aggregate from the parquet
    // source directly — any loss or mutation in the ORC round-trip
    // hash-mismatches. Scale: bounded to the fixed l_orderkey < 60000
    // slice (the x162/x165 posture), one write + one pruned read; at
    // 100 TB this is the format-migration pattern (parquet → ORC lake)
    // with pruning doing the work.
    QueryDef(
      "x175_orc_roundtrip",
      (s, d) => {
        val slice = lineitem(s, d)
          .filter(col("l_orderkey") < 60000)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"), col("l_linestatus"),
            col("l_shipdate"))
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_x175_" +
          s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
        slice.write.mode("overwrite").partitionBy("l_returnflag").orc(store)
        try {
          s.read.orc(store)
            .filter(col("l_returnflag") === "R" && col("l_quantity") < 25)
            .groupBy("l_linestatus")
            .agg(count(lit(1)).as("n"),
              countDistinct(col("l_partkey")).as("n_parts"),
              dsum(col("l_quantity")).as("sum_qty"),
              dsum(col("l_extendedprice")).as("sum_price"),
              min(col("l_shipdate")).cast("string").as("min_ship"),
              max(col("l_shipdate")).cast("string").as("max_ship"))
            .orderBy("l_linestatus")
            .localCheckpoint(true)
        } finally {
          val p = new org.apache.hadoop.fs.Path(store)
          try p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: Exception => () }
        }
      },
      Some("""SELECT l_linestatus, count(*) AS n,
             |  count(DISTINCT l_partkey) AS n_parts,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             |  CAST(min(l_shipdate) AS VARCHAR) AS min_ship,
             |  CAST(max(l_shipdate) AS VARCHAR) AS max_ship
             |FROM lineitem
             |WHERE l_orderkey < 60000 AND l_returnflag = 'R' AND l_quantity < 25
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // PARQUET FOOTER WALK (x176) — the metadata layer row-group pruning
    // lives on, parsed BY HAND: ops/ParquetFooter.scala reads each part
    // file's trailing PAR1 magic + footer length by SEEK (data pages
    // never touched — the catalog-sweep discipline: kilobytes per file,
    // not the file) and decodes the thrift COMPACT-protocol FileMetaData
    // from the public parquet-format definition — varint/zigzag ints,
    // size|type list headers, recursive struct skip for every field the
    // writer added that we don't need. The gate is DIFFERENTIAL, not
    // paired construction: the footer's num_rows for documents/orders
    // must equal the oracle's count(*) over the same tables, the leaf
    // count must equal the published schema width, and the coverage
    // invariants (per-group rows sum to the total; chunks = groups ×
    // leaves; version ≥ 1) hold as booleans — so the values survive any
    // conformant writer vintage while still pinning the parse exactly.
    // A mis-decoded varint or a skipped-wrong field shifts every number.
    QueryDef(
      "x176_parquet_footer",
      (s, d) =>
        graft.ops.ParquetFooter.describe(s, Seq(
          ("documents", s"$d/documents.parquet"),
          ("orders", s"$d/orders.parquet")))
          .select(col("table").as("tbl"),
            (col("n_files") >= 1).as("files_ok"),
            col("num_rows"),
            (col("n_groups") >= col("n_files").cast(LongType)).as("groups_ok"),
            col("n_leaf_columns").cast(LongType).as("n_cols"),
            col("groups_rows_ok"), col("chunks_ok"), col("ver_ok"))
          .orderBy("tbl"),
      Some("""SELECT 'documents' AS tbl, TRUE AS files_ok,
             |  count(*) AS num_rows, TRUE AS groups_ok,
             |  CAST(5 AS BIGINT) AS n_cols, TRUE AS groups_rows_ok,
             |  TRUE AS chunks_ok, TRUE AS ver_ok FROM documents
             |UNION ALL
             |SELECT 'orders', TRUE, count(*), TRUE, CAST(6 AS BIGINT),
             |  TRUE, TRUE, TRUE FROM orders
             |ORDER BY tbl""".stripMargin)),

    // REAL BZIP2 DECODE (x177) — the fourth hand-decoded codec (snappy
    // x171, LZ4 x172, DEFLATE x174) and the one public corpus dumps ship
    // in (Wikipedia dumps are .bz2): ops/Bzip2Stream.scala decodes the
    // full container — Huffman groups with delta-coded lengths and
    // MTF'd selectors, RLE2 bijective-base-2 zero runs, inverse MTF,
    // inverse BWT by counting sort from origPtr, RLE1, and BOTH CRCs
    // (bzip2's MSB-first CRC-32 per block, rotate-xor folded per
    // stream). BWT cannot be constructed arithmetically in SQL, so this
    // gate is a ROUND-TRIP differential: each doc's payload (predicted
    // byte-for-byte by the oracle: a high-entropy segment, a ≥6-byte run
    // forcing the RLE1 count-byte path, and a periodic BWT-friendly
    // tail) is compressed IN the pipeline by commons-compress — the
    // reference compressor on the Spark classpath — at a per-row level
    // 1..9, then decoded by OUR decoder; match_input pins byte equality
    // and the CRCs gate internally. The oracle predicts out_len, level
    // sums, and the payload checksums arithmetically. Corrupt-stream
    // degrade routes (every prefix truncation, every interior bit flip)
    // are spec-covered. Scale: bounded 400-doc corpus, narrow per-row
    // compress+decode, zero shuffle beyond the 10-group exchange.
    QueryDef(
      "x177_bzip2_decode",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        val payloads = s.sql(
          s"""WITH n AS (SELECT doc_id,
             |    CAST(64 + doc_id % 64 AS INT) AS n1,
             |    CAST(6 + doc_id % 5 AS INT) AS rl
             |  FROM $doc WHERE doc_id < 400),
             |hx AS (SELECT doc_id, n1, rl, concat(
             |    aggregate(sequence(0, n1 - 1), '', (acc, i) ->
             |      concat(acc, lpad(hex((doc_id * 7 + i * 13) % 256), 2, '0'))),
             |    repeat(lpad(hex(doc_id % 251), 2, '0'), rl),
             |    aggregate(sequence(0, 29), '', (acc, i) ->
             |      concat(acc, lpad(hex(97 + i % 3), 2, '0')))
             |  ) AS h FROM n)
             |SELECT doc_id AS media_id, unhex(h) AS media,
             |  CAST(1 + doc_id % 9 AS INT) AS level
             |FROM hx""".stripMargin)
        graft.ops.Bzip2Stream.roundTrip(payloads).toDF()
          .groupBy((col("media_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_streams"),
            sum(col("out_len").cast(LongType)).as("out_len"),
            sum(col("n_blocks").cast(LongType)).as("n_blocks"),
            sum(col("level").cast(LongType)).as("sum_level"),
            sum(when(col("match_input"), 1L).otherwise(0L)).as("n_match"),
            sum(col("sum_bytes")).as("sum_bytes"),
            sum(col("wsum_bytes")).as("wsum_bytes"))
          .orderBy("grp")
      },
      Some("""WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n1,
             |    6 + doc_id % 5 AS rl
             |  FROM documents WHERE doc_id < 400),
             |a AS (SELECT doc_id, r.i + 1 AS pos,
             |    (doc_id * 7 + r.i * 13) % 256 AS v
             |  FROM d, range(0, 128) r(i) WHERE r.i < n1),
             |b AS (SELECT doc_id, n1 + r.k + 1 AS pos, doc_id % 251 AS v
             |  FROM d, range(0, 11) r(k) WHERE r.k < rl),
             |c AS (SELECT doc_id, n1 + rl + r.i + 1 AS pos, 97 + r.i % 3 AS v
             |  FROM d, range(0, 30) r(i)),
             |allb AS (SELECT * FROM a UNION ALL SELECT * FROM b
             |  UNION ALL SELECT * FROM c),
             |per AS (SELECT doc_id, count(*) AS ol, sum(v) AS sb,
             |    sum(v * pos) AS wb FROM allb GROUP BY 1)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_streams,
             |  CAST(sum(ol) AS BIGINT) AS out_len,
             |  CAST(count(*) AS BIGINT) AS n_blocks,
             |  CAST(sum(1 + doc_id % 9) AS BIGINT) AS sum_level,
             |  CAST(count(*) AS BIGINT) AS n_match,
             |  CAST(sum(sb) AS BIGINT) AS sum_bytes,
             |  CAST(sum(wb) AS BIGINT) AS wsum_bytes
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // AVRO OBJECT CONTAINER DECODE (x178) — the row-major ingest format
    // streaming landings use before columnar compaction, hand-parsed by
    // ops/AvroContainer.scala from the public Avro 1.x spec: magic,
    // metadata map (schema JSON + codec), 16-byte sync, counted data
    // blocks re-synced per block; record fields decoded per the binary
    // encoding (zigzag varints, length-prefixed UTF-8, LE doubles,
    // counted array blocks). Codecs route through the repo's OWN
    // decoders — deflate via DeflateBlock (x174), snappy via SnappyBlock
    // (x171) plus Avro's trailing CRC-32 of the uncompressed payload —
    // so the container walk composes three hand decoders. The gate is a
    // ROUND-TRIP cross-validation: avro-java's DataFileWriter (the
    // reference implementation, on the Spark classpath) writes each
    // row's records with a per-row codec and an explicit sync every 5
    // records (block count deterministic = ceil(n/5)); OUR parser
    // decodes; match_input pins record-level equality and the oracle
    // predicts every content sum arithmetically (scores are multiples
    // of 1/64 so the x64 sum is an exact BIGINT). Corrupt-container
    // degrade routes (truncations, sync mismatch, bad codec, CRC) are
    // spec-covered. Scale: bounded 300-doc corpus, narrow per-row
    // write+decode, zero shuffle beyond the 10-group exchange.
    QueryDef(
      "x178_avro_container",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        val payloads = s.sql(
          s"""SELECT doc_id AS media_id,
             |  CAST(5 + doc_id % 16 AS INT) AS n,
             |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'null'
             |    WHEN 1 THEN 'deflate' ELSE 'snappy' END AS codec
             |FROM $doc WHERE doc_id < 300""".stripMargin)
        graft.ops.AvroContainer.roundTrip(payloads).toDF()
          .groupBy((col("media_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_streams"),
            sum(col("n_records").cast(LongType)).as("n_records"),
            sum(col("n_blocks").cast(LongType)).as("n_blocks"),
            sum(when(col("codec") === "deflate", 1L).otherwise(0L))
              .as("n_deflate"),
            sum(when(col("codec") === "snappy", 1L).otherwise(0L))
              .as("n_snappy"),
            sum(when(col("match_input"), 1L).otherwise(0L)).as("n_match"),
            sum(when(col("fields_ok"), 1L).otherwise(0L)).as("n_fields_ok"),
            sum(col("sum_ids")).as("sum_ids"),
            sum(col("sum_name_bytes")).as("sum_name_bytes"),
            sum(col("sum_tags")).as("sum_tags"),
            sum(col("sum_score_x64")).as("sum_score_x64"))
          .orderBy("grp")
      },
      Some("""WITH d AS (SELECT doc_id AS m, 5 + doc_id % 16 AS n,
             |    doc_id % 3 AS cs FROM documents WHERE doc_id < 300),
             |per AS (SELECT m, n, cs,
             |    sum(100 * m + r.i) AS ids,
             |    sum((97 + (m + r.i) % 26) * (1 + r.i % 5)) AS nb,
             |    sum((r.i % 4) * m
             |      + r.i * (r.i % 4) * ((r.i % 4) - 1) / 2) AS tg,
             |    sum((m * 7 + r.i * 13) % 1024 - 512) AS sc
             |  FROM d, range(0, 21) r(i) WHERE r.i < n GROUP BY 1, 2, 3)
             |SELECT CAST(m % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_streams,
             |  CAST(sum(n) AS BIGINT) AS n_records,
             |  CAST(sum((n + 4) // 5) AS BIGINT) AS n_blocks,
             |  CAST(sum(CASE WHEN cs = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_deflate,
             |  CAST(sum(CASE WHEN cs = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_snappy,
             |  CAST(count(*) AS BIGINT) AS n_match,
             |  CAST(count(*) AS BIGINT) AS n_fields_ok,
             |  CAST(sum(ids) AS BIGINT) AS sum_ids,
             |  CAST(sum(nb) AS BIGINT) AS sum_name_bytes,
             |  CAST(sum(tg) AS BIGINT) AS sum_tags,
             |  CAST(sum(sc) AS BIGINT) AS sum_score_x64
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CORPUS BLEU (x179) — the eval-side twin of the decontamination
    // gates: corpus-level BLEU-4 (clipped modified n-gram precision,
    // n = 1..4, plus brevity penalty) of a deterministic position-
    // perturbed candidate (every 7th token substituted, every 11th
    // dropped — same arithmetic on both engines) against the original
    // documents as references, reported per source with EVERY integer
    // ingredient exposed (clipped/total per n, candidate/reference
    // lengths) so the one float column is a fixed expression over
    // hash-pinned integers. Spark-first shape: tokenize + perturb +
    // n-gram in codegen'd higher-order functions; both sides' grams are
    // TAGGED (cand +1 / ref +1) and counted in one (doc, n, gram) hash
    // agg so the clip is least(cc, rc) — no self-join. Gram construction
    // is a token posexplode + per-(doc, side) LEAD window: every
    // expression is a small codegen'd scalar (the first version's
    // array-slicing generator fell out of whole-stage codegen and cost
    // 68.7 s at 10×; the lead-window plan is 3× cheaper). cand/ref
    // lengths fall out of the same aggregate as the n = 1 totals.
    // Scale: one window exchange keyed (doc, side) with bounded
    // partitions, one count shuffle keyed (doc_id, n, gram) — skew-free
    // by key width; the same plan at 100 TB, wider.
    QueryDef(
      "x179_corpus_bleu",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        s.sql(
          s"""WITH t AS (SELECT doc_id, source,
             |    filter(split(text, ' '), x -> x != '') AS toks
             |  FROM $doc),
             |b AS (SELECT doc_id, source, toks,
             |    filter(transform(toks, (x, p) ->
             |      CASE WHEN p % 11 = 5 THEN NULL
             |           WHEN p % 7 = 3 THEN 'XX' ELSE x END),
             |      x -> x IS NOT NULL) AS cand
             |  FROM t),
             |tk AS (SELECT doc_id, source, 1L AS c, 0L AS r, pos, tok
             |    FROM b LATERAL VIEW posexplode(cand) u AS pos, tok
             |  UNION ALL
             |  SELECT doc_id, source, 0L AS c, 1L AS r, pos, tok
             |    FROM b LATERAL VIEW posexplode(toks) u AS pos, tok),
             |w AS (SELECT doc_id, source, c, r, tok,
             |    lead(tok, 1) OVER (PARTITION BY doc_id, c ORDER BY pos) AS t1,
             |    lead(tok, 2) OVER (PARTITION BY doc_id, c ORDER BY pos) AS t2,
             |    lead(tok, 3) OVER (PARTITION BY doc_id, c ORDER BY pos) AS t3
             |  FROM tk),
             |gr AS (SELECT doc_id, source, e.n AS n, e.g AS g, c, r
             |  FROM w LATERAL VIEW explode(array(
             |    struct(1 AS n, tok AS g),
             |    struct(2 AS n, concat(tok, chr(31), t1) AS g),
             |    struct(3 AS n, concat(tok, chr(31), t1, chr(31), t2) AS g),
             |    struct(4 AS n,
             |      concat(tok, chr(31), t1, chr(31), t2, chr(31), t3) AS g)
             |  )) u AS e
             |  WHERE e.g IS NOT NULL),
             |cnt AS (SELECT doc_id, source, n, g,
             |    sum(c) AS cc, sum(r) AS rc
             |  FROM gr GROUP BY 1, 2, 3, 4),
             |cl AS (SELECT source, n, sum(least(cc, rc)) AS clip,
             |    sum(cc) AS tot, sum(rc) AS rtot
             |  FROM cnt GROUP BY 1, 2),
             |piv AS (SELECT source,
             |    max(CASE WHEN n = 1 THEN tot END) AS c_len,
             |    max(CASE WHEN n = 1 THEN rtot END) AS r_len,
             |    max(CASE WHEN n = 1 THEN clip END) AS clip1,
             |    max(CASE WHEN n = 1 THEN tot END) AS tot1,
             |    max(CASE WHEN n = 2 THEN clip END) AS clip2,
             |    max(CASE WHEN n = 2 THEN tot END) AS tot2,
             |    max(CASE WHEN n = 3 THEN clip END) AS clip3,
             |    max(CASE WHEN n = 3 THEN tot END) AS tot3,
             |    max(CASE WHEN n = 4 THEN clip END) AS clip4,
             |    max(CASE WHEN n = 4 THEN tot END) AS tot4
             |  FROM cl GROUP BY 1)
             |SELECT source,
             |  CAST(c_len AS BIGINT) AS cand_len,
             |  CAST(r_len AS BIGINT) AS ref_len,
             |  CAST(clip1 AS BIGINT) AS clip1, CAST(tot1 AS BIGINT) AS tot1,
             |  CAST(clip2 AS BIGINT) AS clip2, CAST(tot2 AS BIGINT) AS tot2,
             |  CAST(clip3 AS BIGINT) AS clip3, CAST(tot3 AS BIGINT) AS tot3,
             |  CAST(clip4 AS BIGINT) AS clip4, CAST(tot4 AS BIGINT) AS tot4,
             |  round(least(1.0, exp(1.0 - CAST(r_len AS DOUBLE) / c_len)) *
             |    exp((ln(CAST(clip1 AS DOUBLE) / tot1) +
             |         ln(CAST(clip2 AS DOUBLE) / tot2) +
             |         ln(CAST(clip3 AS DOUBLE) / tot3) +
             |         ln(CAST(clip4 AS DOUBLE) / tot4)) / 4), 6) AS bleu
             |FROM piv ORDER BY source""".stripMargin)
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
             |  FROM documents),
             |b AS (SELECT doc_id, source, toks,
             |    list_filter(list_transform(generate_series(1, len(toks)),
             |      p -> CASE WHEN (p - 1) % 11 = 5 THEN NULL
             |           WHEN (p - 1) % 7 = 3 THEN 'XX'
             |           ELSE toks[p] END), x -> x IS NOT NULL) AS cand
             |  FROM t),
             |tk AS (SELECT doc_id, source, 1 AS c, 0 AS r,
             |    u.pos AS pos, u.tok AS tok FROM (
             |    SELECT doc_id, source,
             |      unnest(list_transform(generate_series(1, len(cand)),
             |        i -> struct_pack(pos := i, tok := cand[i]))) AS u FROM b)
             |  UNION ALL
             |  SELECT doc_id, source, 0 AS c, 1 AS r,
             |    u.pos AS pos, u.tok AS tok FROM (
             |    SELECT doc_id, source,
             |      unnest(list_transform(generate_series(1, len(toks)),
             |        i -> struct_pack(pos := i, tok := toks[i]))) AS u FROM b)),
             |w AS (SELECT doc_id, source, c, r, tok,
             |    lead(tok, 1) OVER (PARTITION BY doc_id, c ORDER BY pos) AS t1,
             |    lead(tok, 2) OVER (PARTITION BY doc_id, c ORDER BY pos) AS t2,
             |    lead(tok, 3) OVER (PARTITION BY doc_id, c ORDER BY pos) AS t3
             |  FROM tk),
             |gr AS (
             |  SELECT doc_id, source, 1 AS n, tok AS g, c, r FROM w
             |  UNION ALL
             |  SELECT doc_id, source, 2, tok || chr(31) || t1, c, r
             |    FROM w WHERE t1 IS NOT NULL
             |  UNION ALL
             |  SELECT doc_id, source, 3,
             |    tok || chr(31) || t1 || chr(31) || t2, c, r
             |    FROM w WHERE t2 IS NOT NULL
             |  UNION ALL
             |  SELECT doc_id, source, 4,
             |    tok || chr(31) || t1 || chr(31) || t2 || chr(31) || t3, c, r
             |    FROM w WHERE t3 IS NOT NULL),
             |cnt AS (SELECT doc_id, source, n, g,
             |    sum(c) AS cc, sum(r) AS rc
             |  FROM gr GROUP BY 1, 2, 3, 4),
             |cl AS (SELECT source, n, sum(least(cc, rc)) AS clip,
             |    sum(cc) AS tot, sum(rc) AS rtot
             |  FROM cnt GROUP BY 1, 2),
             |piv AS (SELECT source,
             |    max(CASE WHEN n = 1 THEN tot END) AS c_len,
             |    max(CASE WHEN n = 1 THEN rtot END) AS r_len,
             |    max(CASE WHEN n = 1 THEN clip END) AS clip1,
             |    max(CASE WHEN n = 1 THEN tot END) AS tot1,
             |    max(CASE WHEN n = 2 THEN clip END) AS clip2,
             |    max(CASE WHEN n = 2 THEN tot END) AS tot2,
             |    max(CASE WHEN n = 3 THEN clip END) AS clip3,
             |    max(CASE WHEN n = 3 THEN tot END) AS tot3,
             |    max(CASE WHEN n = 4 THEN clip END) AS clip4,
             |    max(CASE WHEN n = 4 THEN tot END) AS tot4
             |  FROM cl GROUP BY 1)
             |SELECT source,
             |  CAST(c_len AS BIGINT) AS cand_len,
             |  CAST(r_len AS BIGINT) AS ref_len,
             |  CAST(clip1 AS BIGINT) AS clip1, CAST(tot1 AS BIGINT) AS tot1,
             |  CAST(clip2 AS BIGINT) AS clip2, CAST(tot2 AS BIGINT) AS tot2,
             |  CAST(clip3 AS BIGINT) AS clip3, CAST(tot3 AS BIGINT) AS tot3,
             |  CAST(clip4 AS BIGINT) AS clip4, CAST(tot4 AS BIGINT) AS tot4,
             |  round(least(1.0, exp(1.0 - CAST(r_len AS DOUBLE) / c_len)) *
             |    exp((ln(CAST(clip1 AS DOUBLE) / tot1) +
             |         ln(CAST(clip2 AS DOUBLE) / tot2) +
             |         ln(CAST(clip3 AS DOUBLE) / tot3) +
             |         ln(CAST(clip4 AS DOUBLE) / tot4)) / 4), 6) AS bleu
             |FROM piv ORDER BY source""".stripMargin)),

    // INTEGER-EXACT POWER ITERATION (x180) — the dominant eigenvector of
    // the quantized embedding Gram matrix, the spectral-diagnostics step
    // above x58's covariance audit (is the corpus' top principal
    // direction drifting between snapshots?). Exactness design: floats
    // are quantized by floor(x·8) clamped to [-8, 7] (power-of-two scale
    // ⇒ the multiply and floor are exact IEEE ops, the x33 lesson), the
    // Gram matrix is an exact BIGINT sum of tiny products, and the
    // iteration runs in FIXED-POINT integers — after each mat-vec the
    // vector is renormalized to max|v| = 1000 by truncating division
    // (Spark `div` ≡ DuckDB `//`, both toward zero), so all eight
    // iterations are pure integer arithmetic and the gate pins exact
    // BIGINT equality, not a float tolerance. Overflow budget: |q| ≤ 8 ⇒
    // C_ij ≤ 64n, |w| ≤ 64·C·1000, w·1000 ≤ 4.1e15 at n = 10⁶ — Long-safe
    // two decades past 100×. Scale posture: the ONE corpus-sized pass is
    // the d² generator feeding a 4096-group partial agg (map-side
    // combine; the shuffle carries d²·partitions rows, not n·d²) —
    // quantization runs ONCE per element in a transform, not per d²
    // generated row (the per-row form fell out of codegen: 35 s at 10×),
    // and only the UPPER TRIANGLE is generated, mirrored afterward in
    // the tiny d² frame; the eight iterations run on the 64-row vector —
    // broadcast-sized by construction. The oracle builds the same Gram
    // by self-join (fine at oracle SF; the generator form is the scale
    // path).
    QueryDef(
      "x180_power_iteration",
      (s, d) => {
        val gram = udaf(new graft.functions.GramAggregator)
        embeddings(s, d)
          .select(expr(
            """transform(embedding, x ->
              |  CAST(greatest(least(floor(CAST(x AS DOUBLE) * 8), 7D), -8D)
              |    AS BIGINT))""".stripMargin).as("q"))
          .agg(gram(col("q")).as("flat"))
          .select(
            expr("CAST(round(sqrt(CAST(size(flat) AS DOUBLE))) AS INT)").as("dd"),
            posexplode(col("flat")).as(Seq("pos", "cij")))
          .select(expr("pos div dd + 1").cast("int").as("i"),
            expr("pos % dd + 1").cast("int").as("j"), col("cij"))
          .createOrReplaceTempView("x180_gram_c")
        // The iterations run on the DRIVER over the collected d² matrix —
        // bounded model state (4 096 longs; the x07/x23 centroid
        // discipline). The distributed chain (8 unrolled join+agg CTE
        // stages on a 64-row frame) paid ~10 s of pure stage latency at
        // every SF for work that is microseconds of integer arithmetic.
        val cells = s.sql(
          "SELECT i, j, cij FROM x180_gram_c").collect()
        val dim = cells.iterator.map(_.getInt(0)).max
        val mat = Array.ofDim[Long](dim + 1, dim + 1)
        cells.foreach(r => mat(r.getInt(0))(r.getInt(1)) = r.getLong(2))
        var v = Array.fill(dim + 1)(1000L)
        var vMid: Array[Long] = null
        for (k <- 1 to 8) {
          val w = new Array[Long](dim + 1)
          var i = 1
          while (i <= dim) {
            var acc = 0L
            var j = 1
            while (j <= dim) { acc += mat(i)(j) * v(j); j += 1 }
            w(i) = acc
            i += 1
          }
          val m = w.iterator.map(math.abs).max
          v = w.map(x => (x * 1000) / m) // Long division truncates to zero
          if (k == 4) vMid = v
        }
        import s.implicits._
        (1 to dim).map(j => (j, vMid(j), v(j)))
          .toDF("j", "v_mid", "v_fin").orderBy("j")
      },
      Some {
        val iterations = (1 to 8).map { k =>
          s"""w$k AS (SELECT c.i, sum(c.cij * v${k - 1}.v) AS w
             |  FROM c JOIN v${k - 1} ON c.j = v${k - 1}.j GROUP BY 1),
             |m$k AS (SELECT max(abs(w)) AS m FROM w$k),
             |v$k AS (SELECT i AS j, CAST((w * 1000) // m AS BIGINT) AS v
             |  FROM w$k, m$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH qe AS (SELECT vec_id, u.j, u.q FROM (
           |  SELECT vec_id, unnest(list_transform(
           |    generate_series(1, len(embedding)), j -> {'j': j,
           |      'q': CAST(greatest(least(floor(
           |        CAST(embedding[j] AS DOUBLE) * 8), 7), -8) AS BIGINT)}))
           |    AS u FROM embeddings)),
           |c AS (SELECT a.j AS i, b.j AS j, sum(a.q * b.q) AS cij
           |  FROM qe a JOIN qe b USING (vec_id) GROUP BY 1, 2),
           |v0 AS (SELECT i AS j, CAST(1000 AS BIGINT) AS v
           |  FROM (SELECT DISTINCT i FROM c)),
           |$iterations
           |SELECT v8.j, v4.v AS v_mid, v8.v AS v_fin
           |FROM v8 JOIN v4 ON v8.j = v4.j ORDER BY v8.j""".stripMargin
      }),

    // REAL ZSTD DECODE (x181) — the fifth hand-decoded codec (snappy
    // x171, LZ4 x172, DEFLATE x174, bzip2 x177) and the one a modern
    // lake standardizes on (parquet ZSTD pages, Kafka topics, .zst
    // dumps): ops/ZstdFrame.scala implements RFC 8878 end to end —
    // frame/block headers, raw/RLE/Huffman/treeless literals with 1- and
    // 4-stream backward bitstreams, Huffman trees from direct nibbles or
    // FSE-compressed weights with two interleaved states, FSE normalized
    // counts (threshold + 1-bit rewind + zero-repeat flags), predefined/
    // RLE/compressed/repeat sequence tables, the LL→OF→ML interleaved
    // state machine, the three-slot repeat-offset history, overlapping
    // match copies, and the XXH64 content checksum (implemented here,
    // verified against published vectors). The entropy coding cannot be
    // constructed arithmetically in SQL, so the gate is a ROUND-TRIP
    // differential (x177 pattern): oracle-predicted payloads are
    // compressed IN the pipeline by zstd-jni (the reference
    // implementation on the Spark classpath) at per-row levels 1..22 —
    // every third row through a CHECKSUMMED compression context — and
    // decoded by OUR decoder; match_input pins byte equality, the
    // oracle predicts out_len/level sums/content checksums
    // arithmetically. Corrupt-stream degrade routes (truncations, bit
    // flips through the checksum, dictionary frames) are spec-covered.
    // Scale: bounded 400-doc corpus, narrow per-row compress+decode,
    // zero shuffle beyond the 10-group exchange.
    QueryDef(
      "x181_zstd_decode",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        val payloads = s.sql(
          s"""WITH n AS (SELECT doc_id,
             |    CAST(80 + doc_id % 96 AS INT) AS n1,
             |    CAST(8 + doc_id % 7 AS INT) AS rl
             |  FROM $doc WHERE doc_id < 400),
             |hx AS (SELECT doc_id, n1, rl, concat(
             |    aggregate(sequence(0, n1 - 1), '', (acc, i) ->
             |      concat(acc, lpad(hex((doc_id * 11 + i * 17) % 256), 2, '0'))),
             |    repeat(lpad(hex(32 + doc_id % 97), 2, '0'), rl),
             |    aggregate(sequence(0, 39), '', (acc, i) ->
             |      concat(acc, lpad(hex(100 + i % 5), 2, '0')))
             |  ) AS h FROM n)
             |SELECT doc_id AS media_id, unhex(h) AS media,
             |  CAST(1 + doc_id % 22 AS INT) AS level
             |FROM hx""".stripMargin)
        graft.ops.ZstdFrame.roundTrip(payloads).toDF()
          .groupBy((col("media_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_streams"),
            sum(col("out_len").cast(LongType)).as("out_len"),
            sum(col("n_frames").cast(LongType)).as("n_frames"),
            (sum(col("n_blocks").cast(LongType)) >=
              sum(col("n_frames").cast(LongType))).as("blocks_ok"),
            sum(col("level").cast(LongType)).as("sum_level"),
            sum(when(col("match_input"), 1L).otherwise(0L)).as("n_match"),
            sum(col("sum_bytes")).as("sum_bytes"),
            sum(col("wsum_bytes")).as("wsum_bytes"))
          .orderBy("grp")
      },
      Some("""WITH d AS (SELECT doc_id, 80 + doc_id % 96 AS n1,
             |    8 + doc_id % 7 AS rl
             |  FROM documents WHERE doc_id < 400),
             |a AS (SELECT doc_id, r.i + 1 AS pos,
             |    (doc_id * 11 + r.i * 17) % 256 AS v
             |  FROM d, range(0, 176) r(i) WHERE r.i < n1),
             |b AS (SELECT doc_id, n1 + r.k + 1 AS pos, 32 + doc_id % 97 AS v
             |  FROM d, range(0, 15) r(k) WHERE r.k < rl),
             |c AS (SELECT doc_id, n1 + rl + r.i + 1 AS pos, 100 + r.i % 5 AS v
             |  FROM d, range(0, 40) r(i)),
             |allb AS (SELECT * FROM a UNION ALL SELECT * FROM b
             |  UNION ALL SELECT * FROM c),
             |per AS (SELECT doc_id, count(*) AS ol, sum(v) AS sb,
             |    sum(v * pos) AS wb FROM allb GROUP BY 1)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_streams,
             |  CAST(sum(ol) AS BIGINT) AS out_len,
             |  CAST(count(*) AS BIGINT) AS n_frames,
             |  TRUE AS blocks_ok,
             |  CAST(sum(1 + doc_id % 22) AS BIGINT) AS sum_level,
             |  CAST(count(*) AS BIGINT) AS n_match,
             |  CAST(sum(sb) AS BIGINT) AS sum_bytes,
             |  CAST(sum(wb) AS BIGINT) AS wsum_bytes
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CHAINED STATEFUL STREAMING AGGREGATION (x182) — TWO event-time
    // windowed aggregations in ONE streaming query (Spark 3.5+'s
    // multiple-stateful-operators support, previously a forced
    // two-query split with an intermediate sink): 4-hour per-type slot
    // counts re-windowed into daily rollups, stage 2 grouping directly
    // on stage 1's window struct. Semantics gated: a row is admitted at
    // stage 1 iff its 4 h window end clears the lagged watermark (x150's
    // calibrated two-batch-lag arithmetic, reused verbatim); a 4 h slot
    // reaches stage 2 only when the frontier passes its end; a DAY row
    // is emitted only when the frontier passes the day end — so the
    // oracle composes three frontier filters, all in exact integer µs.
    // Scale: both operators' state is bounded by windows-in-delay, and
    // the chain eliminates the intermediate materialization a 100 TB
    // pipeline would otherwise pay between the two aggregations.
    QueryDef(
      "x182_stream_chained_agg",
      (s, d) => {
        val staged = events(s, d)
          .select(col("ts"), col("event_type"), col("value"),
            eventBatch.as("q"),
            col("event_id"))
          .select(col("ts"), col("event_type"), col("value"),
            expr("CAST(CASE WHEN event_id % 6 = 1 THEN least(q + 2, 3) " +
              "ELSE q END AS INT)").as("b"))
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x182_events", "b", 4, "append") { stream =>
          stream
            .withColumn("cents", floor(col("value") * 100).cast(LongType))
            .withWatermark("ts", "36 hours")
            .groupBy(window(col("ts"), "4 hours"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
            .groupBy(window(col("window"), "1 day"))
            .agg(count(lit(1)).as("n_slots"),
              sum(col("n")).as("n_events"),
              sum(col("sum_cents")).as("sum_cents"))
            .select(unix_micros(col("window.start")).as("day_us"),
              col("n_slots"), col("n_events"), col("sum_cents"))
        }
        out.orderBy("day_us")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) AS us, event_type,
             |    CAST(floor("value" * 100) AS BIGINT) AS cents,
             |    CASE WHEN event_id % 6 = 1
             |      THEN LEAST(LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |        CAST(ts AS DATE)) // 8, 0), 3) + 2, 3)
             |      ELSE LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |        CAST(ts AS DATE)) // 8, 0), 3) END AS b
             |  FROM events),
             |mb AS (SELECT b, max(us) AS mx FROM e GROUP BY b),
             |wm AS (SELECT b,
             |  (max(mx) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND 2 PRECEDING) // 1000) * 1000 - 129600000000 AS wm_late
             |  FROM mb),
             |fin AS (SELECT (max(us) // 1000) * 1000 - 129600000000 AS wm_fin
             |  FROM e),
             |adm AS (SELECT e.us - e.us % 14400000000 + 14400000000 AS w_end,
             |    e.event_type, e.cents
             |  FROM e JOIN wm ON e.b = wm.b
             |  WHERE wm.wm_late IS NULL
             |    OR e.us - e.us % 14400000000 + 14400000000 > wm.wm_late),
             |slots AS (SELECT w_end, event_type, count(*) AS n,
             |    CAST(sum(cents) AS BIGINT) AS sum_cents
             |  FROM adm, fin WHERE w_end <= wm_fin GROUP BY 1, 2),
             |days AS (SELECT (w_end - 14400000000)
             |      - (w_end - 14400000000) % 86400000000 AS day_us,
             |    count(*) AS n_slots, CAST(sum(n) AS BIGINT) AS n_events,
             |    CAST(sum(sum_cents) AS BIGINT) AS sum_cents
             |  FROM slots GROUP BY 1)
             |SELECT day_us, n_slots, n_events, sum_cents
             |FROM days, fin WHERE day_us + 86400000000 <= wm_fin
             |ORDER BY day_us""".stripMargin)),

    // ROUGE-L (x183) — x179's BLEU sibling on the recall side: longest
    // common subsequence between each document (reference, first 24
    // tokens) and its deterministically perturbed candidate (the x179
    // perturbation on the SAME slice), rolled up per source with the
    // micro-averaged F1. The LCS DP is the native codegen Expression
    // [[graft.functions.LcsLength]] (the x190/x192/x196 pattern): the
    // textbook O(ref·cand) two-row recurrence fused into one loop with
    // zero per-cell allocation — replacing the round-9 higher-order-
    // function formulation, whose interpreted inner
    // `transform(sequence(1, j), …)` scan paid an O(ref·cand·j) cubic
    // constant (the largest real bench row at 100×). The oracle runs
    // the classic recurrence as a recursive CTE carrying the DP row as
    // a list. Exactness: LCS lengths and token counts are exact
    // BIGINTs; the one float (f1) is a fixed expression over them.
    // Scale: O(24²) integer work per doc inside whole-stage codegen,
    // zero joins, one per-source partial agg — the same plan at any
    // corpus size.
    QueryDef(
      "x183_rouge_lcs",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        val b = s.sql(
          s"""WITH t AS (SELECT doc_id, source,
             |    slice(filter(split(text, ' '), x -> x != ''), 1, 24) AS ref
             |  FROM $doc)
             |SELECT doc_id, source, ref,
             |  filter(transform(ref, (x, p) ->
             |    CASE WHEN p % 11 = 5 THEN NULL
             |         WHEN p % 7 = 3 THEN 'XX' ELSE x END),
             |    x -> x IS NOT NULL) AS cand
             |FROM t""".stripMargin)
        b.select(col("source"), size(col("ref")).as("rlen"),
            size(col("cand")).as("clen"),
            graft.functions.LcsLength.lcs(col("ref"), col("cand")).as("lcs"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("lcs")).as("sum_lcs"),
            sum(col("clen")).cast(LongType).as("cand_len"),
            sum(col("rlen")).cast(LongType).as("ref_len"),
            round((sum(col("lcs")) * lit(2L)).cast("double") /
              (sum(col("clen")) + sum(col("rlen"))), 6).as("rouge_l"))
          .orderBy("source")
      },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '')[1:24] AS ref
             |  FROM documents),
             |b AS (SELECT doc_id, source, ref,
             |    list_filter(list_transform(generate_series(1, len(ref)), p ->
             |      CASE WHEN (p - 1) % 11 = 5 THEN NULL
             |           WHEN (p - 1) % 7 = 3 THEN 'XX'
             |           ELSE ref[p] END), x -> x IS NOT NULL) AS cand
             |  FROM t),
             |dp AS (
             |  SELECT doc_id, source, ref, cand, 0 AS i,
             |    list_transform(generate_series(0, len(ref)),
             |      x -> CAST(0 AS BIGINT)) AS prev
             |  FROM b
             |  UNION ALL
             |  SELECT doc_id, source, ref, cand, i + 1,
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(generate_series(1, len(ref)), j ->
             |        greatest(prev[j + 1],
             |          list_max(list_transform(generate_series(1, j), k ->
             |            CASE WHEN ref[k] = cand[i + 1] THEN prev[k] + 1
             |              ELSE CAST(0 AS BIGINT) END)))))
             |  FROM dp WHERE i < len(cand)),
             |lcs AS (SELECT doc_id, source, len(ref) AS rlen,
             |    len(cand) AS clen, prev[len(ref) + 1] AS lcs
             |  FROM dp WHERE i = len(cand))
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(lcs) AS BIGINT) AS sum_lcs,
             |  CAST(sum(clen) AS BIGINT) AS cand_len,
             |  CAST(sum(rlen) AS BIGINT) AS ref_len,
             |  round(2.0 * sum(lcs) / (sum(clen) + sum(rlen)), 6) AS rouge_l
             |FROM lcs GROUP BY source ORDER BY source""".stripMargin)),

    // TRANSACTION-LOG SNAPSHOT REPLAY (x184) — the lakehouse metadata
    // op underneath Delta-style tables: a JSON action log (one add or
    // remove action per line, versioned) is replayed into the current
    // snapshot — per path, the LAST action wins by version and the
    // snapshot is the surviving adds. The Spark side must actually
    // PARSE the log (from_json over the action lines with the nested
    // add/remove struct schema — the ingestion the gate is about), then
    // resolve last-writer-wins with one ranking window and aggregate
    // the live set. The log is paired construction (lines assembled in
    // SQL from arithmetic), so the oracle predicts the snapshot without
    // any JSON machinery: adds at v0 (f<100), v1 (100..199), v2
    // (200..299); removes at v1 (even f<50) and v2 (f in [100,200)
    // divisible by 3); a RE-ADD at v3 resurrects every f<20 divisible
    // by 4 — exercising remove-then-re-add ordering, not just
    // tombstoning. Scale: the window partitions by path (bounded
    // history per file), one exchange — the same plan whether the log
    // describes 300 files or 30M.
    QueryDef(
      "x184_txlog_replay",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        s.sql(
          s"""WITH f AS (SELECT doc_id AS fid,
             |    CAST(1000 + doc_id % 777 AS BIGINT) AS fsize
             |  FROM $doc WHERE doc_id < 300),
             |lines AS (
             |  SELECT concat('{"add":{"path":"part-', fid, '.parquet","size":',
             |      fsize, '}}') AS line,
             |    CAST(CASE WHEN fid < 100 THEN 0 WHEN fid < 200 THEN 1
             |      ELSE 2 END AS INT) AS version
             |  FROM f
             |  UNION ALL
             |  SELECT concat('{"remove":{"path":"part-', fid, '.parquet"}}'),
             |    1 FROM f WHERE fid < 50 AND fid % 2 = 0
             |  UNION ALL
             |  SELECT concat('{"remove":{"path":"part-', fid, '.parquet"}}'),
             |    2 FROM f WHERE fid >= 100 AND fid < 200 AND fid % 3 = 0
             |  UNION ALL
             |  SELECT concat('{"add":{"path":"part-', fid, '.parquet","size":',
             |      fsize, '}}'), 3 FROM f WHERE fid < 20 AND fid % 4 = 0),
             |parsed AS (SELECT version,
             |    from_json(line, 'add STRUCT<path: STRING, size: BIGINT>,
             |      remove STRUCT<path: STRING>') AS a
             |  FROM lines),
             |acts AS (SELECT version,
             |    coalesce(a.add.path, a.remove.path) AS path,
             |    a.add.size AS fsize,
             |    CASE WHEN a.add IS NOT NULL THEN 'add' ELSE 'remove' END AS op
             |  FROM parsed),
             |ranked AS (SELECT *, row_number() OVER (PARTITION BY path
             |    ORDER BY version DESC) AS rn
             |  FROM acts),
             |live AS (SELECT path, fsize FROM ranked WHERE rn = 1 AND op = 'add')
             |SELECT
             |  CAST(CAST(regexp_extract(path, '([0-9]+)', 1) AS BIGINT) % 10
             |    AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_live,
             |  CAST(sum(fsize) AS BIGINT) AS total_size,
             |  CAST(sum(length(path)) AS BIGINT) AS path_bytes
             |FROM live GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""WITH f AS (SELECT doc_id AS fid, 1000 + doc_id % 777 AS fsize
             |  FROM documents WHERE doc_id < 300),
             |live AS (SELECT fid, fsize,
             |    concat('part-', fid, '.parquet') AS path
             |  FROM f WHERE NOT (
             |    (fid < 50 AND fid % 2 = 0 AND NOT (fid < 20 AND fid % 4 = 0))
             |    OR (fid >= 100 AND fid < 200 AND fid % 3 = 0)))
             |SELECT CAST(fid % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_live,
             |  CAST(sum(fsize) AS BIGINT) AS total_size,
             |  CAST(sum(length(path)) AS BIGINT) AS path_bytes
             |FROM live GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SCD TYPE-2 DIMENSION BUILD (x185) — the warehouse-side sibling of
    // x184's file-level log replay: a change STREAM (events.event_type as
    // the per-user attribute) folded into a slowly-changing-dimension
    // type-2 table — one row per (user, attribute run) with effective_from
    // / effective_to validity bounds, a per-user version number, and an
    // is_current flag on the open row. Mechanics: per-user lag() marks the
    // rows where the attribute actually CHANGES (consecutive repeats
    // collapse into their run's first row), row_number() over the change
    // rows numbers versions, lead() closes each version with the next
    // change's timestamp. Every window is PARTITIONED BY user_id — per-key
    // ordering only, never a global sort, so the build is one shuffle wide
    // and scales with users × changes (the 100 TB shape: billions of rows,
    // tens of millions of keys, no hot partition beyond the busiest key).
    // The gate aggregates the dimension table per attribute value with
    // every ingredient exact: version-run counts, open-row counts, the
    // version-number checksum, and closed-version validity duration in
    // integer MICROSECONDS (unix_micros/epoch_us — the established µs
    // parity pair), so a wrong change detection, a mis-numbered version,
    // or a shifted boundary moves a BIGINT.
    QueryDef(
      "x185_scd2_build",
      (s, d) => {
        val ordered = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val changes = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(ordered))
          .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        val scd2 = changes
          .withColumn("version", row_number().over(ordered))
          .withColumn("effective_to", lead(col("ts"), 1).over(ordered))
        scd2.groupBy(col("event_type").as("attr"))
          .agg(count(lit(1)).as("n_versions"),
            sum(when(col("effective_to").isNull, 1L).otherwise(0L)).as("n_current"),
            sum(col("version").cast(LongType)).as("sum_version"),
            sum(when(col("effective_to").isNotNull,
              unix_micros(col("effective_to")) - unix_micros(col("ts")))
              .otherwise(0L)).as("dur_us"))
          .orderBy("attr")
      },
      Some("""WITH ev AS (SELECT user_id, ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |chg AS (SELECT user_id, ts, event_id, event_type FROM ev
             |  WHERE prev_type IS NULL OR prev_type <> event_type),
             |scd2 AS (SELECT event_type,
             |    row_number() OVER w AS version, ts,
             |    lead(ts) OVER w AS effective_to
             |  FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT event_type AS attr,
             |  CAST(count(*) AS BIGINT) AS n_versions,
             |  CAST(sum(CASE WHEN effective_to IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_current,
             |  CAST(sum(version) AS BIGINT) AS sum_version,
             |  CAST(sum(CASE WHEN effective_to IS NOT NULL
             |    THEN epoch_us(effective_to) - epoch_us(ts) ELSE 0 END)
             |    AS BIGINT) AS dur_us
             |FROM scd2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // INTERVAL-SWEEP PEAK CONCURRENCY (x186) — "how many sessions are open
    // at once, and when does that peak?", the capacity question every
    // serving/ingest planner asks of an interval table. The textbook
    // answer is a +1/−1 sweep with a GLOBAL running sum — a single-
    // partition window over every endpoint, the one plan shape this repo
    // bans at scale. The scalable formulation is AGGREGATE-THEN-PREFIX:
    // endpoints are first collapsed to net deltas per hour bucket (a
    // keyed, map-side-combined aggregation — the shuffle carries HOURS,
    // not intervals), and only the tiny hour frame (≤ a few 10⁵ rows even
    // at 100 TB, since the time axis grows with history, not row count)
    // rides through the ordered prefix window. Intervals: each event opens
    // a session at its hour and holds it for (event_id % 7 + 1) hours —
    // deterministic construction, half-open [h0, h0+dur). The output is
    // the per-day PEAK concurrency sampled at delta hours (between deltas
    // concurrency is constant, so the sampled max is the true max on every
    // day that has a delta; both engines compute the identical quantity).
    // A wrong bucket floor, a lost endpoint, or a broken prefix moves a
    // BIGINT on some day.
    QueryDef(
      "x186_interval_sweep",
      (s, d) => {
        val ev = events(s, d).select(
          date_trunc("hour", col("ts")).as("h0"),
          ((col("event_id") % 7) + 1).cast("int").as("durh"))
        val deltas = ev.select(col("h0").as("h"), lit(1L).as("delta"))
          .unionByName(ev.select(
            expr("timestampadd(HOUR, durh, h0)").as("h"), lit(-1L).as("delta")))
        val perHour = deltas.groupBy("h").agg(sum("delta").as("net"))
        // the prefix window is global BY DESIGN: it runs over the hour
        // frame the aggregation just shrank, not over the interval table
        val run = perHour.withColumn("conc",
          sum("net").over(Window.orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        run.groupBy(date_trunc("day", col("h")).as("day"))
          .agg(max(col("conc")).cast(LongType).as("peak_conc"),
            count(lit(1)).as("n_hours"))
          .orderBy("day")
      },
      Some("""WITH ev AS (SELECT date_trunc('hour', ts) AS h0,
             |    CAST(event_id % 7 + 1 AS INT) AS durh FROM events),
             |deltas AS (SELECT h0 AS h, 1 AS delta FROM ev
             |  UNION ALL
             |  SELECT h0 + durh * INTERVAL 1 HOUR, -1 FROM ev),
             |per AS (SELECT h, sum(delta) AS net FROM deltas GROUP BY 1),
             |run AS (SELECT h, sum(net) OVER (ORDER BY h) AS conc FROM per)
             |SELECT date_trunc('day', h) AS day,
             |  CAST(max(conc) AS BIGINT) AS peak_conc,
             |  CAST(count(*) AS BIGINT) AS n_hours
             |FROM run GROUP BY 1 ORDER BY 1""".stripMargin)),

    // INTERPOLATED KNESER-NEY BIGRAM SCORING (x188) — the smoothing the
    // CCNet/KenLM quality-filter stack actually ships (x44 gates the
    // add-one textbook form; production LMs use absolute discounting with
    // continuation backoff): P(w2|w1) = (c(w1w2) − D)/c(w1·) +
    // D·N1+(w1·)/c(w1·) · N1+(·w2)/|bigram types|, D = 0.75. Trained ON
    // the corpus and scored against it, so every scored bigram has
    // c ≥ 1 and the discounted term never clips — the max(·,0) is
    // vacuous by construction and omitted. Determinism discipline is
    // x44's: every ingredient (bigram count, prefix total, prefix
    // continuation fan-out, suffix continuation fan-in, type total) is an
    // exact integer; the one probability is a single fixed left-to-right
    // IEEE expression over them rounded to 9 dp into DECIMAL (exact,
    // associative summation), and the per-doc mean is one deterministic
    // division — no ln(), so the libm-last-ulp trap never enters. Plan:
    // the bigram stream and the count table are materialized once each
    // (x44's shape); the model joins are shuffle-hash on w1/w2 (model ≪
    // stream); the type total is a broadcast scalar; per-doc rollup is
    // map-side combined. Scale: model size ∝ distinct bigrams, stream
    // cost linear — the same plan at 100 TB with the model bucketed.
    QueryDef(
      "x188_kneser_ney",
      (s, d) => {
        val ex = documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
          .select(col("doc_id"),
            explode(graft.ops.TextDedup.shingles(col("tk"), 2)).as("bg"))
          .localCheckpoint(eager = true)
        val c2 = ex.groupBy("bg").agg(count(lit(1)).as("c12"))
          .localCheckpoint(eager = true)
        val w1t = c2.select(substring_index(col("bg"), " ", 1).as("w1"), col("c12"))
          .groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
        val w2t = c2.select(substring_index(col("bg"), " ", -1).as("w2"))
          .groupBy("w2").agg(count(lit(1)).as("nc"))
        val tt = c2.agg(count(lit(1)).as("tt"))
        val ctab = c2
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .withColumn("w2", substring_index(col("bg"), " ", -1))
          .join(w1t.hint("shuffle_hash"), "w1")
          .join(w2t.hint("shuffle_hash"), "w2")
          .crossJoin(broadcast(tt))
          .withColumn("p", round(
            (col("c12").cast(DoubleType) - 0.75) / col("c1").cast(DoubleType) +
              lit(0.75) * col("n1p").cast(DoubleType) / col("c1").cast(DoubleType) *
                col("nc").cast(DoubleType) / col("tt").cast(DoubleType), 9)
            .cast(DecimalType(18, 9)))
          .select("bg", "p")
        ex.join(ctab.hint("shuffle_hash"), "bg")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast(LongType).as("n_bigrams"),
            round(sum(col("p")).cast(DoubleType) / count(lit(1)), 6).as("kn_score"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk FROM documents
              |  WHERE text IS NOT NULL),
              |bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg
              |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
              |        FROM t WHERE len(tk) >= 2) u),
              |c2 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
              |w1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1,
              |    count(*) AS n1p FROM c2 GROUP BY 1),
              |w2 AS (SELECT split_part(bg, ' ', 2) AS w2, count(*) AS nc
              |  FROM c2 GROUP BY 1),
              |tt AS (SELECT count(*) AS tt FROM c2),
              |ct AS (SELECT c2.bg, CAST(round(
              |    (CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
              |    + 0.75 * CAST(n1p AS DOUBLE) / CAST(c1 AS DOUBLE)
              |      * CAST(nc AS DOUBLE) / CAST(tt AS DOUBLE), 9)
              |    AS DECIMAL(18,9)) AS p
              |  FROM c2 JOIN w1 ON split_part(c2.bg, ' ', 1) = w1.w1
              |    JOIN w2 ON split_part(c2.bg, ' ', 2) = w2.w2 CROSS JOIN tt)
              |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |  round(CAST(sum(ct.p) AS DOUBLE) / count(*), 6) AS kn_score
              |FROM bg b JOIN ct USING (bg) GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // HILBERT-CURVE LAYOUT ACCOUNTING (x187) — x60's Z-order sibling on
    // the SAME (qb, pb) key grid, answering the layout question Z-order
    // leaves open: Z takes long diagonal jumps at quadrant boundaries, so
    // a Z-contiguous file can span a wide key rectangle; the Hilbert curve
    // is locality-preserving at every scale, so Hilbert-contiguous files
    // bound tighter. ops/HilbertCurve.scala compiles the textbook
    // rotate/flip recursion into a 4-state automaton packed into two
    // 32-bit constants — per bit level three shift-and-mask expressions
    // that BOTH engines run verbatim (the x60 shared-string discipline) and
    // that stay inside whole-stage codegen on the Spark side (no fold, no
    // lambda — the x167 CollapseProject lesson applied via a named,
    // twice-referenced idx column per level). The gate bins lineitem into
    // 16 curve-contiguous "files" under BOTH curves and reports each
    // file's row count and bounding-box area; a wrong automaton entry,
    // digit order, or state transition reshuffles every bucket. Scale: two
    // keyed aggregations over the scan, no row explosion, shuffle carries
    // 16 groups × partial aggregates.
    QueryDef(
      "x187_hilbert_layout",
      (s, d) => {
        val zExpr = (0 until 8).map(k =>
          s"((((qb >> $k) & 1) << ${2 * k + 1}) | (((pb >> $k) & 1) << ${2 * k}))")
          .mkString(" | ")
        // explicit not-null filters make qb/pb — and the whole Hilbert
        // chain — provably non-nullable, so the join-key isnotnull
        // constraint is elided instead of being pushed down as one
        // exponentially-inlined copy of the level chain (each level reads
        // idx twice, so textual inlining doubles per level)
        val li = lineitem(s, d)
          .filter(col("l_quantity").isNotNull && col("l_extendedprice").isNotNull)
          .select(expr("((CAST(floor(l_quantity) AS BIGINT) - 1) * 256) div 50").as("qb"),
            least(lit(255L), expr("CAST(floor(l_extendedprice) AS BIGINT) div 410")).as("pb"))
          .withColumn("z", expr(zExpr))
        val hl = graft.ops.HilbertCurve.withIndex(li, "qb", "pb", 8)
        // group keys wrapped in coalesce(non-null literal): `div` is
        // always-nullable in Catalyst, so a bare key would re-introduce
        // the join-key isnotnull pushdown this query just engineered away
        val hb = hl.groupBy(coalesce(expr("hilbert div 4096"), lit(-1L)).as("file_id"))
          .agg(count(lit(1)).as("n_h"),
            ((max("qb") - min("qb") + 1) * (max("pb") - min("pb") + 1)).as("area_h"))
        val zb = hl.groupBy(coalesce(expr("z div 4096"), lit(-1L)).as("file_id"))
          .agg(count(lit(1)).as("n_z"),
            ((max("qb") - min("qb") + 1) * (max("pb") - min("pb") + 1)).as("area_z"))
        hb.join(zb, Seq("file_id"))
          .select(col("file_id").cast(LongType).as("file_id"),
            col("n_h"), col("area_h"), col("n_z"), col("area_z"))
          .orderBy("file_id")
      },
      Some {
        val zExpr = (0 until 8).map(k =>
          s"((((qb >> $k) & 1) << ${2 * k + 1}) | (((pb >> $k) & 1) << ${2 * k}))")
          .mkString(" | ")
        s"""WITH li AS (SELECT
           |  ((CAST(floor(l_quantity) AS BIGINT) - 1) * 256) // 50 AS qb,
           |  least(255, CAST(floor(l_extendedprice) AS BIGINT) // 410) AS pb
           |  FROM lineitem),
           |lz AS (SELECT *, $zExpr AS z FROM li),
           |${graft.ops.HilbertCurve.duckCtes("lz", "qb", "pb", 8)},
           |hb AS (SELECT hilbert // 4096 AS file_id,
           |  CAST(count(*) AS BIGINT) AS n_h,
           |  CAST((max(qb) - min(qb) + 1) * (max(pb) - min(pb) + 1) AS BIGINT)
           |    AS area_h FROM hx GROUP BY 1),
           |zb AS (SELECT z // 4096 AS file_id,
           |  CAST(count(*) AS BIGINT) AS n_z,
           |  CAST((max(qb) - min(qb) + 1) * (max(pb) - min(pb) + 1) AS BIGINT)
           |    AS area_z FROM hx GROUP BY 1)
           |SELECT CAST(hb.file_id AS BIGINT) AS file_id, n_h, area_h, n_z, area_z
           |FROM hb JOIN zb ON hb.file_id = zb.file_id
           |ORDER BY file_id""".stripMargin
      }),

    // STATS-BASED ROW-GROUP PRUNING (x189) — the decision layer on top of
    // x176's footer walk, and the mechanism that makes a 100 TB lake scan
    // read 0.1% of its files: per-row-group min/max column statistics
    // (ColumnMetaData.statistics min_value/max_value, hand-parsed as
    // plain-encoded LE INT64 by ops/ParquetFooter.int64Stats — footer-only
    // seek reads, data pages untouched) drive a keep/prune decision for a
    // range predicate, and the gate PROVES the decision sound both ways:
    // scanning ONLY the kept files under the predicate must reproduce the
    // oracle's full-table predicate count (nothing lost), and scanning the
    // pruned files under the predicate must find ZERO rows (nothing
    // wrongly skipped — the invariant that makes pruning safe, not just
    // fast). The dataset is written IN the gate: orders range-partitioned
    // 8 ways on o_orderkey, so file min/max ranges are disjoint and a
    // bottom-of-range predicate (min+150) must prune most files
    // (`pruned_some`). Stats-less groups are unpruneable by contract,
    // never empty. Driver-side state is the 8-entry file list — the
    // bounded model-state class. A mis-decoded stats field, a wrong
    // endianness, or an off-by-one in the keep test flips a BIGINT or a
    // boolean.
    QueryDef(
      "x189_stats_pruning",
      (s, d) => {
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_x189_" +
          s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
        orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(8, col("o_orderkey"))
          .write.mode("overwrite").parquet(store)
        try {
          val st = graft.ops.ParquetFooter.int64Stats(s, store, "o_orderkey")
            .localCheckpoint(eager = true)
          val bound = orders(s, d).agg(min("o_orderkey").cast(LongType))
            .first().getLong(0) + 150L
          val perFile = st.groupBy("file")
            .agg(sum("g_rows").as("f_rows"),
              min(when(col("has_stats"), col("min_v"))).as("f_min"),
              sum(when(!col("has_stats"), 1L).otherwise(0L)).as("n_nostats"))
            .collect()
          val kept = perFile.filter(r =>
            r.getLong(3) > 0 || r.getLong(2) <= bound).map(_.getString(0))
          val pruned = perFile.map(_.getString(0)).diff(kept)
          val nMatch =
            if (kept.isEmpty) 0L
            else s.read.parquet(kept.toIndexedSeq: _*)
              .filter(col("o_orderkey") <= bound).count()
          val prunedMatches =
            if (pruned.isEmpty) 0L
            else s.read.parquet(pruned.toIndexedSeq: _*)
              .filter(col("o_orderkey") <= bound).count()
          val nRows = perFile.map(_.getLong(1)).sum
          val statsOk = perFile.forall(_.getLong(3) == 0L)
          import s.implicits._
          Seq((perFile.length.toLong, statsOk, nRows, nMatch,
            prunedMatches == 0L, pruned.nonEmpty))
            .toDF("n_files", "stats_ok", "n_rows", "n_match",
              "pruned_clean", "pruned_some")
        } finally {
          val p = new org.apache.hadoop.fs.Path(store)
          try p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: Exception => () }
        }
      },
      Some("""SELECT CAST(8 AS BIGINT) AS n_files, TRUE AS stats_ok,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN o_orderkey <=
             |    (SELECT min(o_orderkey) + 150 FROM orders)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
             |  TRUE AS pruned_clean, TRUE AS pruned_some
             |FROM orders""".stripMargin)),

    // UNICODE NFC NORMALIZATION (x190) — the first text-cleaning pass of a
    // multilingual corpus pipeline: the same logical token arrives
    // precomposed (U+00E9) from one crawl source and decomposed
    // (e + U+0301) from another, and un-normalized text silently splits
    // dedup keys, vocab entries, and group-bys that should collide. Spark
    // ships no normalization function, so functions/NfcNormalize.scala is
    // a native codegen Expression (SURVEY §4.2 preference order b —
    // UnaryExpression + doGenCode, allocation-free fast path when
    // Normalizer.isNormalized already holds, which is virtually all real
    // text); DuckDB's nfc_normalize (utf8proc) implements the same UAX #15
    // canonical composition, so the gate is a CROSS-IMPLEMENTATION
    // differential: JDK vs utf8proc over paired-constructed Latin
    // combining marks and Hangul jamo. Outputs pin change counts, before/
    // after code-point lengths, and an md5-derived checksum of every
    // normalized string — a single mis-composed sequence shifts a BIGINT.
    // Scale: one narrow per-row pass into a 10-group partial agg.
    QueryDef(
      "x190_nfc_normalize",
      (s, d) => {
        val ePre = "\u00e9"
        val eDec = "e\u0301"
        val jamo = "\u1100\u1161\u11a8"
        val base = concat(lit("w"), col("doc_id").cast("string"), lit(" "))
        val sCol = when(col("doc_id") % 4 === 0, concat(base, lit("caf" + ePre)))
          .when(col("doc_id") % 4 === 1, concat(base, lit("caf" + eDec)))
          .when(col("doc_id") % 4 === 2, concat(base, lit(jamo)))
          .otherwise(concat(base, lit("ascii")))
        documents(s, d).filter(col("doc_id") < 3000)
          .select(col("doc_id"), sCol.as("str"))
          .withColumn("norm", graft.functions.NfcNormalize.nfc(col("str")))
          .groupBy((col("doc_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("norm") =!= col("str"), 1L).otherwise(0L)).as("n_changed"),
            sum(length(col("str")).cast(LongType)).as("chars_before"),
            sum(length(col("norm")).cast(LongType)).as("chars_after"),
            sum(expr("CAST(conv(substring(md5(norm), 1, 8), 16, 10) AS BIGINT)"))
              .as("cksum"))
          .orderBy("grp")
      },
      Some("""WITH src AS (SELECT doc_id,
             |    'w' || doc_id || ' ' || CASE CAST(doc_id % 4 AS INT)
             |      WHEN 0 THEN 'caf' || chr(233)
             |      WHEN 1 THEN 'cafe' || chr(769)
             |      WHEN 2 THEN chr(4352) || chr(4449) || chr(4520)
             |      ELSE 'ascii' END AS str
             |  FROM documents WHERE doc_id < 3000),
             |nrm AS (SELECT doc_id, str, nfc_normalize(str) AS norm FROM src),
             |hx8 AS (SELECT doc_id, str, norm,
             |    substr(md5(norm), 1, 8) AS hx FROM nrm)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN norm <> str THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_changed,
             |  CAST(sum(length(str)) AS BIGINT) AS chars_before,
             |  CAST(sum(length(norm)) AS BIGINT) AS chars_after,
             |  CAST(sum((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456
             |    + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216
             |    + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576
             |    + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536
             |    + (instr('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096
             |    + (instr('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256
             |    + (instr('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
             |    + (instr('0123456789abcdef', substr(hx, 8, 1)) - 1)) AS BIGINT)
             |    AS cksum
             |FROM hx8 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // GRID-BUCKETED PLANAR DISTANCE JOIN (x191) — the spatial pair join
    // (all point pairs within distance r) the catalog's 1-D interval
    // bucketing (ops/BucketedRangeJoin, q22/x92/x152/x155) cannot express:
    // proximity blocking over TWO coordinates. ops/GridJoin overlays an
    // r-sized cell grid and equi-joins a 3×3-expanded probe side against
    // the build side's own cell (pair-uniqueness argument at the op), so
    // candidate volume is bounded by local DENSITY, never n² — the plan
    // that survives 100 TB. Points are synthesized from customer keys by
    // integer congruential arithmetic (identical in both engines), the
    // distance test is exact BIGINT d² ≤ r², and the output is the d²-band
    // histogram with pair counts, distinct-endpoint counts, and exact d²
    // sums — one mis-paired candidate shifts a BIGINT. The ORACLE runs the
    // plan this operator exists to avoid: a brute-force O(n²) inequality
    // join — the cross-engine gate doubles as the asymptotic comparison.
    QueryDef(
      "x191_grid_distance_join",
      (s, d) => {
        val pts = customer(s, d).select(
          col("c_custkey").cast(LongType).as("id"),
          ((col("c_custkey").cast(LongType) * 48271L) % 8000L).as("x"),
          ((col("c_custkey").cast(LongType) * 16807L) % 8000L).as("y"))
        graft.ops.GridJoin.withinDistance(pts, "id", "x", "y", 500L)
          .groupBy(expr("CAST(d2 DIV 31250 AS BIGINT)").as("band"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("d2")).as("sum_d2"),
            countDistinct(col("id_a")).as("n_a"),
            countDistinct(col("id_b")).as("n_b"),
            min(col("d2")).as("min_d2"),
            max(col("d2")).as("max_d2"))
          .orderBy("band")
      },
      Some("""WITH p AS (SELECT CAST(c_custkey AS BIGINT) AS id,
             |    (CAST(c_custkey AS BIGINT) * 48271) % 8000 AS x,
             |    (CAST(c_custkey AS BIGINT) * 16807) % 8000 AS y
             |  FROM customer),
             |pr AS (SELECT a.id AS id_a, b.id AS id_b,
             |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
             |  FROM p a JOIN p b ON a.id < b.id
             |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             |    <= 250000)
             |SELECT CAST(d2 // 31250 AS BIGINT) AS band,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(sum(d2) AS BIGINT) AS sum_d2,
             |  CAST(count(DISTINCT id_a) AS BIGINT) AS n_a,
             |  CAST(count(DISTINCT id_b) AS BIGINT) AS n_b,
             |  CAST(min(d2) AS BIGINT) AS min_d2,
             |  CAST(max(d2) AS BIGINT) AS max_d2
             |FROM pr GROUP BY 1 ORDER BY band""".stripMargin)),

    // AHO–CORASICK DICTIONARY MATCHING (x192) — multi-pattern substring
    // counting in ONE corpus pass (functions/AhoCorasick.scala: byte-level
    // goto/fail/output automaton as a native codegen expression, the
    // dictionary riding along as a reference object): PII phrase lists,
    // blocklists, contamination probes. The dictionary deliberately nests
    // ("table" inside "table table", "fast" prefixing "fast key") and
    // self-borders ("a a", "table table"), so fail-chain output
    // inheritance and OVERLAPPING occurrences are all on the gate. The
    // oracle counts every pattern INDEPENDENTLY at every start position
    // (substr equality over a position range) — exact overlap-inclusive
    // semantics, at |dict| × positions cost: the quadratic plan this
    // operator replaces with a single automaton scan. Scale: one narrow
    // codegen pass, counts fold in a 15-group partial agg; no join, no
    // per-pattern rescan.
    QueryDef(
      "x192_aho_corasick",
      (s, d) => {
        val phrases = Seq("a a", "batch batch", "data", "fast", "fast key",
          "key agg", "scan", "scan slow", "slow fast table", "stream",
          "table", "table table", "the line sort", "value table part",
          "window window")
        val phraseArr = array(phrases.map(lit): _*)
        documents(s, d)
          .select(col("doc_id"),
            graft.functions.AhoCorasick.matchCounts(col("text"), phrases)
              .as("cnts"))
          // posexplode_OUTER: the counts array is always |dict| long, so
          // outer vs inner explode is semantically identical here — but
          // inner explode lets InferFiltersFromGenerate add size(cnts) > 0,
          // which predicate pushdown rewrites through the alias into a
          // scan-side SECOND evaluation of the automaton (the x187
          // pushed-constraint lesson, Generate edition); outer explode is
          // outside that rule's pattern and the scan runs the automaton once
          .select(col("doc_id"), posexplode_outer(col("cnts")).as(Seq("pid", "c")))
          .groupBy(element_at(phraseArr, col("pid") + 1).as("phrase"))
          .agg(sum(col("c")).as("n_occ"),
            sum(when(col("c") > 0, 1L).otherwise(0L)).as("n_docs"),
            max(col("c")).as("max_in_doc"))
          .orderBy("phrase")
      },
      {
        val phrases = Seq("a a", "batch batch", "data", "fast", "fast key",
          "key agg", "scan", "scan slow", "slow fast table", "stream",
          "table", "table table", "the line sort", "value table part",
          "window window")
        val values = phrases.map(p => s"('$p')").mkString(", ")
        Some(s"""WITH ph AS (SELECT * FROM (VALUES $values) t(phrase)),
                |occ AS (SELECT phrase, doc_id,
                |    CAST(len(list_filter(
                |      range(1, length(text) - length(phrase) + 2),
                |      i -> substr(text, CAST(i AS INT), length(phrase)) = phrase))
                |      AS BIGINT) AS c
                |  FROM documents CROSS JOIN ph)
                |SELECT phrase, CAST(sum(c) AS BIGINT) AS n_occ,
                |  CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                |  CAST(max(c) AS BIGINT) AS max_in_doc
                |FROM occ GROUP BY 1 ORDER BY phrase""".stripMargin)
      }),

    // PROTOBUF WIRE-FORMAT DECODE (x193) — the schema-less wire walk for
    // protobuf-framed event/log payloads (ops/ProtoWire.scala: base-128
    // varints, ZigZag, fixed32/64, length-delimited with nested-message
    // recursion and packed-repeated expansion, hand-parsed from the
    // public encoding spec — the same layer-down posture as x176's thrift
    // compact reader). Paired construction: the SQL assembles each
    // message byte-for-byte from arithmetic (tags, two-byte varints,
    // ZigZag'd negative sint, LE fixed32, a 5-byte packed plane, a nested
    // message), Spark decodes through the REAL decoder, and the oracle
    // predicts every decoded value — field numbers, varint values, LEN
    // byte sums, packed elements, the nested field — without parsing.
    // Every 17th doc is truncated mid-varint (the leading value is forced
    // ≥ 128 so a 2-byte cut always lands inside a continuation) and must
    // route to no rows. ProtoWireSpec cross-validates against the real
    // protobuf CodedOutputStream. Scale: narrow per-row decode, zero
    // shuffle beyond the 10-path exchange.
    QueryDef(
      "x193_protobuf_wire",
      (s, d) => {
        val doc = s"parquet.`$d/documents.parquet`"
        val media = s.sql(
          s"""WITH n AS (SELECT doc_id,
             |    128 + doc_id % 10000 AS a,
             |    doc_id % 100 - 50 AS v,
             |    (doc_id * 97) % 65536 AS c
             |  FROM $doc WHERE doc_id < 3000),
             |z AS (SELECT doc_id, a, c,
             |    IF(v >= 0, 2 * v, -2 * v - 1) AS zz FROM n),
             |hx AS (SELECT doc_id, IF(doc_id % 17 = 0,
             |  concat('08', ${hbS("a % 128 + 128")}),
             |  concat(
             |    '08', ${hbS("a % 128 + 128")}, ${hbS("a div 128")},
             |    '10', ${hbS("zz")},
             |    '1A04646F63', ${hbS("48 + doc_id % 10")},
             |    '25', ${le32S("c")},
             |    '2A05', ${hbS("doc_id % 128")},
             |    ${hbS("doc_id % 100 + 128")}, '01',
             |    ${hbS("172 + doc_id % 50")}, '02',
             |    '320208', ${hbS("doc_id % 90")})) AS h FROM z)
             |SELECT doc_id AS media_id, unhex(h) AS media FROM hx""".stripMargin)
        graft.ops.ProtoWire.fields(media,
            recurseInto = Set(6), packedVarintsAt = Set(5)).toDF()
          .groupBy(col("path"))
          .agg(min(col("wire_type")).cast(LongType).as("wt"),
            count(lit(1)).as("n"),
            sum(col("num")).as("sum_num"),
            sum(col("len")).as("sum_len"),
            sum(col("bsum")).as("sum_bsum"))
          .orderBy("path")
      },
      Some("""WITH d AS (SELECT doc_id, 128 + doc_id % 10000 AS a,
             |    doc_id % 100 - 50 AS v, (doc_id * 97) % 65536 AS c
             |  FROM documents WHERE doc_id < 3000 AND doc_id % 17 <> 0),
             |z AS (SELECT doc_id, a, c,
             |    CASE WHEN v >= 0 THEN 2 * v ELSE -2 * v - 1 END AS zz
             |  FROM d),
             |rows_ AS (
             |  SELECT '1' AS path, 0 AS wt, a AS num, 0 AS len, 0 AS bsum
             |    FROM z
             |  UNION ALL SELECT '2', 0, zz, 0, 0 FROM z
             |  UNION ALL SELECT '3', 2, 0, 4, 310 + 48 + doc_id % 10 FROM z
             |  UNION ALL SELECT '4', 5, c, 0, 0 FROM z
             |  UNION ALL SELECT '5', 2, 0, 5,
             |    doc_id % 128 + (doc_id % 100 + 128) + 1
             |      + (172 + doc_id % 50) + 2 FROM z
             |  UNION ALL SELECT '5#0', 0, doc_id % 128, 0, 0 FROM z
             |  UNION ALL SELECT '5#1', 0, 128 + doc_id % 100, 0, 0 FROM z
             |  UNION ALL SELECT '5#2', 0, 300 + doc_id % 50, 0, 0 FROM z
             |  UNION ALL SELECT '6', 2, 0, 2, 8 + doc_id % 90 FROM z
             |  UNION ALL SELECT '6.1', 0, doc_id % 90, 0, 0 FROM z)
             |SELECT path, CAST(min(wt) AS BIGINT) AS wt,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(num) AS BIGINT) AS sum_num,
             |  CAST(sum(len) AS BIGINT) AS sum_len,
             |  CAST(sum(bsum) AS BIGINT) AS sum_bsum
             |FROM rows_ GROUP BY 1 ORDER BY path""".stripMargin)),

    // PARQUET DATA-PAGE HAND DECODE (x194) — the layer below x176's
    // footer walk and x189's stats pruning: ops/ParquetPages.scala walks
    // the thrift-compact PageHeaders of one column chunk, decompresses
    // pages through the repo's OWN snappy decoder (x171's SnappyBlock),
    // decodes RLE/bit-packed-hybrid definition levels, and materializes
    // PLAIN and dictionary-encoded INT64 values — Spark's vectorized
    // reader reproduced from the public parquet-format spec. The gate is
    // DIFFERENTIAL against the engine itself: Spark WRITES a bounded
    // orders slice in two shapes (dictionary+snappy; PLAIN+uncompressed,
    // small blocks/pages for multi-group multi-page coverage), the hand
    // decoder re-reads every page, and the oracle predicts the exact
    // value facts (counts, null counts, sums, min/max) arithmetically
    // from the same source rows — one mis-decoded page shifts a BIGINT.
    // Writer-dependent layout facts (page counts) are boolean contracts,
    // the x176 discipline. Scale: the slice is absolutely bounded (first
    // 8000 orderkeys); chunk ranges are read by seek, one task per part.
    QueryDef(
      "x194_parquet_pages",
      (s, d) => {
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_x194_" +
          s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
        val bound = orders(s, d).agg(min("o_orderkey").cast(LongType))
          .first().getLong(0) + 8000L
        val src = orders(s, d).filter(col("o_orderkey") <= bound).select(
          col("o_orderkey").cast(LongType).as("k"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast(LongType))
            .otherwise((col("o_orderkey").cast(LongType) * 31L) % 97L)
            .as("a"),
          ((col("o_orderkey").cast(LongType) * 13L) % 353L).as("b"))
        try {
          src.coalesce(1).write.mode("overwrite")
            .option("compression", "snappy")
            .option("parquet.block.size", "65536")
            .option("parquet.page.size", "4096")
            .parquet(s"$store/dict")
          // Concurrent parquet write JOBS in one JVM can drop the
          // parquet-mr writer flag `parquet.enable.dictionary` (observed
          // under graft.Verify's 4-query concurrency: a plain-labeled file
          // comes out dictionary-encoded — sometimes per row group — while
          // compression and block-size options hold; single-threaded writes
          // never exhibit it). The gate's contract is "this store IS
          // plain-encoded", so write-and-check: re-write until our own
          // decoder sees zero dictionary pages. One pass suffices when no
          // other write job is in flight.
          def writePlain(): Unit = src.coalesce(1).write.mode("overwrite")
            .option("compression", "none")
            .option("parquet.enable.dictionary", "false")
            .option("parquet.block.size", "65536")
            .option("parquet.page.size", "4096")
            .parquet(s"$store/plain")
          writePlain()
          var attempts = 0
          while (attempts < 8 && graft.ops.ParquetPages
              .int64Column(s, s"$store/plain", "a")
              .agg(sum("n_dict_pages")).first().getLong(0) > 0L) {
            writePlain()
            attempts += 1
          }
          def one(variant: String, cname: String) =
            graft.ops.ParquetPages.int64Column(s, s"$store/$variant", cname)
              .agg(sum("num_values").as("num_values"),
                sum("n_nulls").as("n_nulls"), sum("sum_v").as("sum_v"),
                min("min_v").as("min_v"), max("max_v").as("max_v"),
                min(when(col("ok"), 1L).otherwise(0L)).as("okm"),
                sum("n_dict_pages").as("nd"), sum("n_pages").as("np"))
              .select(lit(variant).as("variant"), lit(cname).as("col_name"),
                col("num_values"), col("n_nulls"), col("sum_v"),
                col("min_v"), col("max_v"), (col("okm") === 1L).as("ok_all"),
                (col("nd") > 0L).as("has_dict"),
                (col("np") > 0L).as("pages_pos"))
          one("dict", "a").unionByName(one("dict", "b"))
            .unionByName(one("plain", "a")).unionByName(one("plain", "b"))
            .orderBy("variant", "col_name")
            // the union of four 1-row aggregates over a temp store must
            // materialize before the finally deletes the store
            .localCheckpoint(eager = true)
        } finally {
          val p = new org.apache.hadoop.fs.Path(store)
          try p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: Exception => () }
        }
      },
      Some("""WITH bd AS (SELECT min(o_orderkey) + 8000 AS bound FROM orders),
             |s AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders, bd
             |  WHERE o_orderkey <= bound),
             |va AS (SELECT CASE WHEN k % 7 = 0 THEN NULL
             |    ELSE (k * 31) % 97 END AS v FROM s),
             |vb AS (SELECT (k * 13) % 353 AS v FROM s),
             |fa AS (SELECT CAST(count(*) AS BIGINT) AS num_values,
             |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_nulls,
             |    CAST(sum(v) AS BIGINT) AS sum_v,
             |    CAST(min(v) AS BIGINT) AS min_v,
             |    CAST(max(v) AS BIGINT) AS max_v FROM va),
             |fb AS (SELECT CAST(count(*) AS BIGINT) AS num_values,
             |    CAST(0 AS BIGINT) AS n_nulls,
             |    CAST(sum(v) AS BIGINT) AS sum_v,
             |    CAST(min(v) AS BIGINT) AS min_v,
             |    CAST(max(v) AS BIGINT) AS max_v FROM vb)
             |SELECT variant, col_name, num_values, n_nulls, sum_v, min_v,
             |  max_v, TRUE AS ok_all, has_dict, TRUE AS pages_pos
             |FROM (
             |  SELECT 'dict' AS variant, 'a' AS col_name, fa.*,
             |    TRUE AS has_dict FROM fa
             |  UNION ALL SELECT 'dict', 'b', fb.*, TRUE FROM fb
             |  UNION ALL SELECT 'plain', 'a', fa.*, FALSE FROM fa
             |  UNION ALL SELECT 'plain', 'b', fb.*, FALSE FROM fb)
             |ORDER BY variant, col_name""".stripMargin)),

    // ROCKSDB STATE STORE + SLIDING WINDOWS (x195) — two streaming
    // surfaces the gate family lacks: SLIDING (overlapping) event-time
    // windows (every event belongs to duration/slide = 2 windows — the
    // state store carries ~2× the groups a tumbling agg holds) executed
    // on the ROCKSDB state store provider instead of the default in-memory
    // HashMap — the backend that makes 100 TB streaming state possible at
    // all (state spills to local SST files instead of executor heap; at
    // scale, the heap provider is capped by memory × executors, RocksDB
    // by DISK). Semantics must be IDENTICAL to the heap provider's, so
    // the gate is the usual batch twin: 4 staged micro-batches, complete
    // mode, exact integer cents. `rocksdb_used` is asserted from the
    // query's own state-operator custom metrics (a silent fallback to the
    // heap provider would flip the column and fail the hash), and the
    // provider conf is set on the replay's own session — no other gate
    // sees it.
    QueryDef(
      "x195_stream_rocksdb_sliding",
      (s, d) => {
        val sawRocks = new java.util.concurrent.atomic.AtomicBoolean(false)
        val out = graft.streaming.StreamGate.replayStaged(
          s,
          events(s, d).select(col("ts"), col("event_type"), col("value"),
            pmod(col("event_id"), lit(4)).cast("int").as("b")),
          name = "x195_events", batchCol = "b", nBatches = 4,
          mode = "complete",
          progress = p =>
            if (graft.streaming.StreamGate.usesRocksDb(p)) sawRocks.set(true),
          conf = Map(graft.streaming.StreamGate.RocksDb)) { stream =>
          stream
            .withColumn("cents", floor(col("value") * 100).cast(LongType))
            .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
            .select(unix_micros(col("window.start")).as("w_us"),
              col("event_type"), col("n"), col("sum_cents"))
        }
        out.withColumn("rocksdb_used", lit(sawRocks.get()))
          .orderBy("w_us", "event_type")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) AS us, event_type,
             |  CAST(floor("value" * 100) AS BIGINT) AS cents FROM events),
             |w AS (SELECT us - us % 3600000000 AS w_us, event_type, cents
             |    FROM e
             |  UNION ALL
             |  SELECT us - us % 3600000000 - 3600000000, event_type, cents
             |    FROM e)
             |SELECT w_us, event_type, count(*) AS n,
             |  CAST(sum(cents) AS BIGINT) AS sum_cents,
             |  TRUE AS rocksdb_used
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // WORDPIECE TOKENIZATION (x196) — greedy longest-match-first subword
    // encoding (the public BERT tokenizer; Wu et al. 2016), completing
    // the tokenizer family next to BPE train/encode (x104/x57) and
    // unigram-Viterbi (x159). functions/WordPiece.scala compiles the
    // vocabulary into two byte tries (start vs ## continuation) riding
    // along as a reference object — one forward trie walk per piece,
    // inside whole-stage codegen. The gate exercises the algorithm's
    // edges deliberately: multi-char pieces that outrank their char
    // decompositions, pieces that exist only as continuations, a suffix
    // ('x') that must ride as ##x, and a digit suffix that triggers the
    // all-or-nothing whole-word [UNK] rule. The ORACLE re-derives the
    // same greedy recursion as a recursive CTE with a LATERAL
    // longest-piece probe (the x159/x167 twin discipline) — position-
    // weighted id checksums make a single mis-segmented word visible.
    QueryDef(
      "x196_wordpiece",
      (s, d) => {
        val ids = WordPieceFixture.vocab.zipWithIndex.toMap
        require(ids.size == WordPieceFixture.vocab.size)
        val words = documents(s, d).filter(col("doc_id") < 4000)
          .select(col("doc_id"),
            posexplode(slice(tokens(col("text")), 1, 20)).as(Seq("p", "w0")))
          .filter(length(col("w0")) > 0)
          .withColumn("wpos", col("p") + 1)
          .withColumn("w", concat(col("w0"),
            when(col("doc_id") % 5 === 0 && col("wpos") === 3, lit("x"))
              .when(col("doc_id") % 7 === 0 && col("wpos") === 5, lit("9"))
              .otherwise(lit(""))))
        val enc = words.withColumn("ids",
            graft.functions.WordPiece.encode(col("w"), WordPieceFixture.vocab))
          .withColumn("unk",
            (size(col("ids")) === 1 && col("ids").getItem(0) === 0L)
              .cast("long"))
          .withColumn("cksum", aggregate(
            zip_with(col("ids"),
              sequence(lit(1L), size(col("ids")).cast(LongType)),
              (id, p) => id * p),
            lit(0L), (acc, x) => acc + x))
        enc.groupBy((col("doc_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n_words"),
            sum(size(col("ids")).cast(LongType)).as("n_pieces"),
            sum(col("unk")).as("n_unk"),
            sum(col("cksum")).as("cksum"))
          .orderBy("grp")
      },
      Some(s"""WITH RECURSIVE
              |v(id, piece, cont, plen) AS (VALUES ${WordPieceFixture.valuesSql}),
              |tk AS (SELECT doc_id, $tokensSql AS t FROM documents
              |  WHERE doc_id < 4000),
              |w0 AS (SELECT doc_id, r.i + 1 AS wpos, t[CAST(r.i + 1 AS INT)] AS w
              |  FROM tk, range(0, 20) r(i)
              |  WHERE r.i < len(t) AND len(t[CAST(r.i + 1 AS INT)]) > 0),
              |w1 AS (SELECT doc_id, wpos, w ||
              |    CASE WHEN doc_id % 5 = 0 AND wpos = 3 THEN 'x'
              |      WHEN doc_id % 7 = 0 AND wpos = 5 THEN '9'
              |      ELSE '' END AS w FROM w0),
              |st(doc_id, wpos, w, pos, np, cksum, unk) AS (
              |  SELECT doc_id, wpos, w, 1, 0, CAST(0 AS BIGINT), FALSE FROM w1
              |  UNION ALL
              |  SELECT s.doc_id, s.wpos, s.w, s.pos + COALESCE(b.plen, 1),
              |    s.np + 1, s.cksum + COALESCE(b.id, 0) * (s.np + 1),
              |    b.id IS NULL
              |  FROM st s LEFT JOIN LATERAL (
              |    SELECT vv.id, vv.plen FROM v vv
              |    WHERE vv.cont = (s.pos > 1)
              |      AND substr(s.w, s.pos, vv.plen) = vv.piece
              |    ORDER BY vv.plen DESC LIMIT 1) b ON TRUE
              |  WHERE s.pos <= len(s.w) AND NOT s.unk),
              |fin AS (SELECT doc_id, wpos,
              |    CASE WHEN max(CASE WHEN unk THEN 1 ELSE 0 END) = 1
              |      THEN 1 ELSE max(np) END AS np,
              |    CASE WHEN max(CASE WHEN unk THEN 1 ELSE 0 END) = 1
              |      THEN 0 ELSE max(cksum) END AS cksum,
              |    max(CASE WHEN unk THEN 1 ELSE 0 END) AS unk
              |  FROM st GROUP BY 1, 2)
              |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
              |  CAST(count(*) AS BIGINT) AS n_words,
              |  CAST(sum(np) AS BIGINT) AS n_pieces,
              |  CAST(sum(unk) AS BIGINT) AS n_unk,
              |  CAST(sum(cksum) AS BIGINT) AS cksum
              |FROM fin GROUP BY 1 ORDER BY grp""".stripMargin)),

    // MAXIMAL-REPEAT EXACT SUBSTRING DEDUP (x197) — the suffix-array
    // modality of the published LLM-corpus pipeline (Lee et al.:
    // remove substrings of ≥ k tokens occurring more than once),
    // closing the one dedup-family gap x52's fixed 8-gram windows
    // approximated: spans are MAXIMAL, with (doc, start, len) extents
    // — a 90-token boilerplate block is one finding, not 66
    // overlapping fragments. ops/MaximalRepeats.scala runs the
    // distributed three-phase shape (8-byte anchor-hash shuffle →
    // candidate buckets ≥ 2 → content verify over candidates only →
    // per-doc interval-union islands: anchors merge while the gap < k,
    // since their k-windows overlap — gap-1 runs alone emitted
    // OVERLAPPING spans for anchors duplicated at p and p+2 only),
    // exact by the k-window covering equivalence and collision-proof
    // via the verify pass. The span frame itself is session-shared and
    // store-backed (maxRepSpansShared — x201 consumes the same frame;
    // the corpus anchor pass runs once per session). The oracle
    // re-derives spans directly from gram TEXT (no hashing anywhere) —
    // an independent construction of the same maximal-span semantics.
    // sum_start pins exact extents (1-based), not just counts.
    // Scale: anchor volume linear in corpus tokens, candidates are the
    // duplicated fraction, islands window per-doc bounded — never a
    // global suffix array on one node.
    QueryDef(
      "x197_maximal_repeats",
      (s, d) => {
        maxRepSpansShared(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("len")).as("dup_tokens"),
            max(col("len")).as("max_len"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("start") + 1L).as("sum_start"))
          .orderBy("source")
      },
      Some(s"""$maxRepSpanSql
             |SELECT source, CAST(count(*) AS BIGINT) AS n_spans,
             |  CAST(sum(len) AS BIGINT) AS dup_tokens,
             |  CAST(max(len) AS BIGINT) AS max_len,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(sum(start) AS BIGINT) AS sum_start
             |FROM sp GROUP BY 1 ORDER BY source""".stripMargin)),

    // BYTE-LEVEL BPE PRETOKENIZATION (x198) — the GPT-2 tokenizer's
    // front half (Radford et al. 2019; the published gpt2 regex +
    // bytes↔unicode table), completing the tokenizer family next to BPE
    // train/encode (x104/x57), unigram (x159), and WordPiece (x196):
    // the corpus is split by the GPT-2 pattern ('s|'t|'re|'ve|'m|'ll|'d
    // | ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+), each
    // pretoken's bytes ride the byte→unicode table (space→Ġ, tab→ĉ,
    // newline→Ċ for the ASCII probe), and a fixed merge list then
    // applies through x57's angle-bracket replace machinery — the full
    // byte-level encode, segmentation pinned cross-engine. The probe is
    // paired construction (x184/x194 discipline): both engines assemble
    // the same corpus-derived strings exercising every alternation —
    // contractions ('s inside and at word end, 't mid-word, 're),
    // space-attachment, double spaces, punctuation runs ending in a
    // quote, digits, alnum splits (7b), newline/tab, trailing spaces.
    // The ENGINE runs the real regex (Java regex: the lookahead is
    // native); the ORACLE cannot (DuckDB's RE2 lacks lookahead), so it
    // re-derives the split as a character-class RUN WALKER in a
    // recursive CTE — an independent construction of the same
    // semantics, fuzz-validated against the reference regex over 20k
    // random probes during development. Position-weighted piece
    // checksums make a single mis-split visible. Scale: pure per-row
    // string work inside codegen + one partial agg — linear, no joins.
    QueryDef(
      "x198_bytelevel_pretokenize",
      (s, d) => {
        val merges = Seq(("Ġ", "t"), ("e", "r"), ("i", "n"), ("Ġ", "a"),
          ("t", "h"))
        val pre = bytePretokens(s, d)
          .withColumn("e", regexp_replace(col("m"), "(.)", "<$1>"))
        val enc = merges.foldLeft(pre) { case (df, (a, b)) =>
          df.withColumn("e", expr(s"replace(e, '<$a><$b>', '<$a$b>')"))
        }
        enc
          .withColumn("n_after",
            (length(col("e")) - length(expr("replace(e, '<', '')")))
              .cast(LongType))
          .groupBy((col("doc_id") % 10).cast(LongType).as("grp"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_pretok"),
            sum(col("n_after")).as("n_pieces"),
            sum(length(col("m")).cast(LongType)).as("sum_len"),
            sum((col("ti") + 1L) * col("n_after")).as("cksum"),
            sum((col("m") === "Ġ").cast(LongType)).as("n_space_only"),
            sum(col("m").contains("Ċ").cast(LongType)).as("n_nl"))
          .orderBy("grp")
      },
      Some(s"""$gpt2WalkerSql,
              |enc AS (SELECT doc_id, ti, m,
              |    replace(replace(replace(replace(replace(
              |      regexp_replace(m, '(.)', '<\\1>', 'g'),
              |      '<Ġ><t>', '<Ġt>'), '<e><r>', '<er>'), '<i><n>', '<in>'),
              |      '<Ġ><a>', '<Ġa>'), '<t><h>', '<th>') AS e
              |  FROM toks),
              |fin AS (SELECT doc_id, ti, m,
              |    CAST(length(e) - length(replace(e, '<', '')) AS BIGINT)
              |      AS n_after
              |  FROM enc)
              |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
              |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  CAST(count(*) AS BIGINT) AS n_pretok,
              |  CAST(sum(n_after) AS BIGINT) AS n_pieces,
              |  CAST(sum(length(m)) AS BIGINT) AS sum_len,
              |  CAST(sum(ti * n_after) AS BIGINT) AS cksum,
              |  CAST(sum(CASE WHEN m = 'Ġ' THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_space_only,
              |  CAST(sum(CASE WHEN contains(m, 'Ċ') THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_nl
              |FROM fin GROUP BY 1 ORDER BY grp""".stripMargin)),

    // STREAMING STATE TTL (x199) — the bounded-state answer for the
    // stateful-enrichment pattern at 100 TB: dormant keys must EXPIRE
    // or the store grows with key cardinality forever. Runs
    // [[graft.streaming.TtlStates]] through the staged day-quartile
    // replay: per key, a long-TTL value state (hours — must accumulate
    // across all four batches exactly like the no-TTL x154 twin)
    // NEXT TO a 1 ms-TTL state (processing-time TTL: always expired
    // across a micro-batch boundary, always fresh inside one call — so
    // it is deterministically the per-batch aggregate, and its reset
    // IS the admit→evict→re-admit frontier, pinned in the output).
    // A silent TTL failure in either direction flips exact-integer
    // columns and fails the hash. The oracle computes both faces from
    // the per-(user, batch) rollup: running windowed sums for the
    // long cell, the group row itself for the expiring cell. Scale:
    // one fixed-width state row per ACTIVE key with store-enforced
    // expiry — the shape that keeps 100 TB enrichment state bounded.
    QueryDef(
      "x199_stream_state_ttl",
      (s, d) => {
        val staged = events(s, d)
          .select(col("user_id"), col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents"),
            eventBatch.as("b"))
        // NOTE (round 12): changelog checkpointing measured SLOWER here —
        // this gate's TTL state is tiny, so snapshot upload is already
        // cheap and the changelog stream is pure added machinery (x213's
        // join state is where it wins). Left on the default.
        val out =
          graft.streaming.StreamGate.replayStaged(
            s, staged, "x199_events", "b", 4, "append",
            availableNow = false,
            conf = Map(graft.streaming.StreamGate.RocksDb)) { stream =>
            graft.streaming.TtlStates.ttlStats(
              stream.as[graft.streaming.TtlStates.EventIn](
                org.apache.spark.sql.Encoders.product)).toDF()
          }
        out.orderBy("user_id", "n_total")
      },
      Some("""WITH e AS (SELECT user_id,
             |    CAST(floor("value" * 100) AS BIGINT) AS cents,
             |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS b
             |  FROM events),
             |g AS (SELECT user_id, b, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(cents) AS BIGINT) AS sc
             |  FROM e GROUP BY 1, 2)
             |SELECT user_id,
             |  CAST(sum(n) OVER w AS BIGINT) AS n_total,
             |  CAST(sum(sc) OVER w AS BIGINT) AS sum_total,
             |  n AS n_batch, sc AS sum_batch
             |FROM g
             |WINDOW w AS (PARTITION BY user_id ORDER BY b
             |  ROWS UNBOUNDED PRECEDING)
             |ORDER BY user_id, n_total""".stripMargin)),

    // PARQUET V2 + BYTE_ARRAY DATA PAGES (x200) — extends x194's hand
    // decode to the bytes real lakes actually store: string columns
    // (v1 PLAIN + dictionary) and v2 data pages (DataPageHeaderV2 with
    // uncompressed level bytes, DELTA_BINARY_PACKED longs,
    // DELTA_BYTE_ARRAY strings — parquet Encodings.md, cross-validated
    // against parquet-mr's own DeltaBinaryPackingValuesWriter in spec).
    // Differential-gate find (the reason this layer exists): Spark
    // 4.1.2's VECTORIZED reader mis-decodes DELTA_BYTE_ARRAY pages its
    // own v2 writer produced (corrupted strings, wrong lengths), while
    // the row-based parquet-mr path, DuckDB, and this hand decoder
    // agree byte-for-byte — so the oracle here PREDICTS the facts
    // arithmetically from the same construction and never trusts a
    // reader. Writer options can be dropped by concurrent write jobs
    // (the x194 find), so each store is write-and-checked through the
    // decoder before gating. Scale: chunk ranges read by seek, one
    // task per part file — x194's shape.
    QueryDef(
      "x200_parquet_v2_pages",
      (s, d) => {
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_x200_" +
          s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
        val bound = orders(s, d).agg(min("o_orderkey").cast(LongType))
          .first().getLong(0) + 8000L
        val src = orders(s, d).filter(col("o_orderkey") <= bound).select(
          col("o_orderkey").cast(LongType).as("k"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast(LongType))
            .otherwise((col("o_orderkey").cast(LongType) * 31L) % 97L)
            .as("a"),
          when(col("o_orderkey") % 9 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("prefix-"), col("o_orderkey") % 37,
              lit("-value-"), (col("o_orderkey") * 13) % 101)).as("s"),
          concat(lit("tag-"), col("o_orderkey") % 13).as("t"))
        try {
          def writeChecked(path: String, opts: Map[String, String])(
              okCheck: => Boolean): Unit = {
            def w(): Unit = {
              val base = src.coalesce(1).write.mode("overwrite")
                .option("parquet.block.size", "65536")
                .option("parquet.page.size", "4096")
              opts.foldLeft(base) { case (acc, (k, v)) => acc.option(k, v) }
                .parquet(path)
            }
            w()
            var attempts = 0
            while (attempts < 8 && !okCheck) { w(); attempts += 1 }
          }
          writeChecked(s"$store/v2", Map(
            "parquet.writer.version" -> "v2",
            "parquet.enable.dictionary" -> "false",
            "compression" -> "snappy")) {
            val r = graft.ops.ParquetPages.int64Column(s, s"$store/v2", "a")
              .agg(sum("n_v2_pages"), sum("n_dict_pages")).first()
            r.getLong(0) > 0L && r.getLong(1) == 0L
          }
          writeChecked(s"$store/v1nd", Map(
            "parquet.enable.dictionary" -> "false",
            "compression" -> "none")) {
            graft.ops.ParquetPages.byteArrayColumn(s, s"$store/v1nd", "s")
              .agg(sum("n_dict_pages")).first().getLong(0) == 0L
          }
          writeChecked(s"$store/v1", Map("compression" -> "snappy"))(true)
          def longFacts(variant: String, path: String, cname: String) =
            graft.ops.ParquetPages.int64Column(s, path, cname)
              .agg(sum("num_values").as("nv"), sum("n_nulls").as("nn"),
                sum("sum_v").as("sv"), min("min_v").as("mn"),
                max("max_v").as("mx"),
                min(when(col("ok"), 1L).otherwise(0L)).as("okm"),
                sum("n_dict_pages").as("nd"), sum("n_v2_pages").as("n2"))
              .select(lit(variant).as("variant"), lit(cname).as("col_name"),
                col("nv").as("num_values"), col("nn").as("n_nulls"),
                col("sv").as("sum_v"), col("mn").cast("string").as("min_s"),
                col("mx").cast("string").as("max_s"),
                (col("okm") === 1L).as("ok_all"),
                (col("nd") > 0L).as("has_dict"), (col("n2") > 0L).as("has_v2"))
          def strFacts(variant: String, path: String, cname: String) =
            graft.ops.ParquetPages.byteArrayColumn(s, path, cname)
              .agg(sum("num_values").as("nv"), sum("n_nulls").as("nn"),
                sum("sum_len").as("sv"), min("min_v").as("mn"),
                max("max_v").as("mx"),
                min(when(col("ok"), 1L).otherwise(0L)).as("okm"),
                sum("n_dict_pages").as("nd"), sum("n_v2_pages").as("n2"))
              .select(lit(variant).as("variant"), lit(cname).as("col_name"),
                col("nv").as("num_values"), col("nn").as("n_nulls"),
                col("sv").as("sum_v"), col("mn").as("min_s"),
                col("mx").as("max_s"), (col("okm") === 1L).as("ok_all"),
                (col("nd") > 0L).as("has_dict"), (col("n2") > 0L).as("has_v2"))
          longFacts("v2", s"$store/v2", "a")
            .unionByName(strFacts("v2", s"$store/v2", "s"))
            .unionByName(strFacts("v1nd", s"$store/v1nd", "s"))
            .unionByName(strFacts("v1", s"$store/v1", "t"))
            .orderBy("variant", "col_name")
            // materialize before the finally deletes the store
            .localCheckpoint(eager = true)
        } finally {
          val p = new org.apache.hadoop.fs.Path(store)
          try p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: Exception => () }
        }
      },
      Some("""WITH bd AS (SELECT min(o_orderkey) + 8000 AS bound FROM orders),
             |src AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders, bd
             |  WHERE o_orderkey <= bound),
             |fa AS (SELECT CASE WHEN k % 7 = 0 THEN NULL
             |    ELSE (k * 31) % 97 END AS a FROM src),
             |fs AS (SELECT CASE WHEN k % 9 = 0 THEN NULL
             |    ELSE 'prefix-' || CAST(k % 37 AS VARCHAR) || '-value-' ||
             |      CAST((k * 13) % 101 AS VARCHAR) END AS v FROM src),
             |ft AS (SELECT 'tag-' || CAST(k % 13 AS VARCHAR) AS v FROM src),
             |ra AS (SELECT CAST(count(*) AS BIGINT) AS num_values,
             |    CAST(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_nulls,
             |    CAST(sum(a) AS BIGINT) AS sum_v,
             |    CAST(min(a) AS VARCHAR) AS min_s,
             |    CAST(max(a) AS VARCHAR) AS max_s FROM fa),
             |rs AS (SELECT CAST(count(*) AS BIGINT) AS num_values,
             |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_nulls,
             |    CAST(sum(length(v)) AS BIGINT) AS sum_v,
             |    min(v) AS min_s, max(v) AS max_s FROM fs),
             |rt AS (SELECT CAST(count(*) AS BIGINT) AS num_values,
             |    CAST(0 AS BIGINT) AS n_nulls,
             |    CAST(sum(length(v)) AS BIGINT) AS sum_v,
             |    min(v) AS min_s, max(v) AS max_s FROM ft)
             |SELECT variant, col_name, num_values, n_nulls, sum_v, min_s,
             |  max_s, TRUE AS ok_all, has_dict, has_v2
             |FROM (
             |  SELECT 'v2' AS variant, 'a' AS col_name, ra.*,
             |    FALSE AS has_dict, TRUE AS has_v2 FROM ra
             |  UNION ALL SELECT 'v2', 's', rs.*, FALSE, TRUE FROM rs
             |  UNION ALL SELECT 'v1nd', 's', rs.*, FALSE, FALSE FROM rs
             |  UNION ALL SELECT 'v1', 't', rt.*, TRUE, FALSE FROM rt)
             |ORDER BY variant, col_name""".stripMargin)),

    // MAXIMAL-REPEAT SPAN SCRUB (x201) — the dedup ACTION on x197's
    // findings: remove every maximal duplicated span (the published
    // exact-substring policy — duplicated regions are cut everywhere,
    // the conservative training-data stance) and account the cleaned
    // corpus per source. Composition is the point: x201 consumes the
    // SAME session-shared span frame x197 published (maxRepSpansShared
    // — the corpus anchor pass runs once per session, the "survivor
    // policy composable" contract stated at the operator) and joins it
    // back to the corpus by doc_id. Spans are per-doc DISJOINT by
    // construction (interval-union islands: anchors merge while the
    // gap < k), so removed-token accounting is a plain sum, no overlap
    // resolution pass. The position checksum Σ (start+1)·len pins
    // exact extents through the join, not just totals. Scale: the
    // span frame is the duplicated fraction; the join back to the
    // doc-stats frame is key-partitioned on doc_id; everything after is
    // a per-source partial agg.
    QueryDef(
      "x201_span_scrub",
      (s, d) => {
        val base = documents(s, d).select("doc_id", "source", "text")
        val docs = base.select(col("doc_id"), col("source"),
          size(expr("filter(split(text, ' '), x -> x != '')"))
            .cast(LongType).as("n_tok"))
        val perDoc = maxRepSpansShared(s, d)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("len")).as("removed"),
            sum((col("start") + 1L) * col("len")).as("cks"))
        docs.join(perDoc, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_spans").isNotNull, 1L).otherwise(0L))
              .as("n_docs_changed"),
            sum(col("n_tok")).as("tokens_before"),
            coalesce(sum(col("removed")), lit(0L)).as("tokens_removed"),
            (sum(col("n_tok")) - coalesce(sum(col("removed")), lit(0L)))
              .as("tokens_after"),
            coalesce(sum(col("cks")), lit(0L)).as("cksum"))
          .orderBy("source")
      },
      Some(s"""$maxRepSpanSql,
             |pd AS (SELECT doc_id, count(*) AS n_spans,
             |    CAST(sum(len) AS BIGINT) AS removed,
             |    CAST(sum(start * len) AS BIGINT) AS cks
             |  FROM sp GROUP BY 1),
             |ds AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tok
             |  FROM t)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN pd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_docs_changed,
             |  CAST(sum(n_tok) AS BIGINT) AS tokens_before,
             |  CAST(coalesce(sum(removed), 0) AS BIGINT) AS tokens_removed,
             |  CAST(sum(n_tok) - coalesce(sum(removed), 0) AS BIGINT)
             |    AS tokens_after,
             |  CAST(coalesce(sum(cks), 0) AS BIGINT) AS cksum
             |FROM ds LEFT JOIN pd USING (doc_id)
             |GROUP BY 1 ORDER BY source""".stripMargin)),

    // BYTE-LEVEL BPE TRAIN STEP (x202) — the GPT-2 training half on
    // x198's pretokens: roll the byte-level pretokens into a frequency
    // vocabulary (the BPE training corpus is a word-frequency table,
    // x54's shape one representation down), then count ADJACENT SYMBOL
    // PAIRS weighted by frequency — the statistic whose argmax becomes
    // the next merge. Pairs are 2-character substrings over the mapped
    // alphabet (Ġ/ĉ/Ċ included), so the top pairs show the byte-level
    // signature word-level counting cannot produce: Ġ-prefixed pairs
    // (space-attached word starts) compete with in-word bigrams.
    // Composition: x198 (pretokenize) → x202 (count pairs) → x57 (apply
    // merges) is the full public BPE pipeline, each stage oracle-gated.
    // Scale: everything past the pretoken rollup is vocabulary-sized;
    // top-20 is TakeOrdered; one exchange per aggregation.
    QueryDef(
      "x202_bytelevel_bpe_train",
      (s, d) => {
        val vocab = bytePretokens(s, d)
          .groupBy("m").agg(count(lit(1)).as("freq"))
        vocab.filter(length(col("m")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(1, char_length(m) - 1), " +
              "i -> substring(m, i, 2))")).as("pair"))
          .groupBy("pair").agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(20)
          .withColumn("rn", row_number()
            .over(Window.orderBy(col("cnt").desc, col("pair"))).cast(LongType))
          .select(col("rn"), col("pair"), col("cnt"))
          .orderBy("rn")
      },
      Some(s"""$gpt2WalkerSql,
              |v AS (SELECT m, CAST(count(*) AS BIGINT) AS freq FROM toks
              |  GROUP BY 1),
              |p AS (SELECT substr(m, CAST(u.i AS INT), 2) AS pair, freq
              |  FROM v, LATERAL unnest(range(1, length(m))) u(i)
              |  WHERE length(m) >= 2),
              |c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p
              |  GROUP BY 1),
              |r AS (SELECT pair, cnt,
              |    CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
              |      AS rn
              |  FROM c)
              |SELECT rn, pair, cnt FROM r WHERE rn <= 20
              |ORDER BY rn""".stripMargin)),

    // INCREMENTAL MAXIMAL-REPEAT DEDUP (x203) — x47's new-batch-vs-index
    // shape for the span modality: today's crawl is span-deduped against
    // yesterday's corpus WITHOUT re-anchoring the corpus. The index is
    // the anchor-hash table (maxRepAnchorIndex — a pure function of the
    // corpus, DerivedStore-backed, bucketed by the 8-byte hash); the
    // batch anchors once, semi-joins the index on h, and text-verifies
    // candidates on BOTH sides (index gram text re-derived only for
    // anchors whose hash matched — candidate-sized), giving exactly
    // `spans(union, k)` restricted to batch docs (ops/MaximalRepeats
    // .incrementalSpans: the covering-equivalence + collision-proof
    // argument at the operator). The batch manufactures all three
    // outcomes: whole-doc clones of index docs (cross-duplicated spans),
    // REVERSED-text pairs duplicated only within the batch (token
    // reversal keeps every gram out of the index), and reversed fresh
    // singles (no spans unless both engines agree otherwise). The ORACLE
    // is the full-corpus twin: the x197 span CTE over the union corpus,
    // filtered to batch docs — the incremental path must reproduce the
    // full recompute exactly. Scale: cost ∝ batch tokens + the candidate
    // fraction of the index; the corpus-sized anchor pass happened once,
    // at index-build time.
    QueryDef(
      "x203_incremental_spans",
      (s, d) => {
        val base = documents(s, d).select("doc_id", "source", "text")
        val revText = concat_ws(" ",
          reverse(expr("filter(split(text, ' '), x -> x != '')")))
        val newb = base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
            col("text"))
          .unionByName(base.filter(col("doc_id") % 11 === 3)
            .select((col("doc_id") + 20000000L).as("doc_id"), col("source"),
              revText.as("text")))
          .unionByName(base.filter(col("doc_id") % 11 === 3)
            .select((col("doc_id") + 30000000L).as("doc_id"), col("source"),
              revText.as("text")))
          // exclude the pair residue (%11==3): a doc in both waves would
          // give the "fresh" wave a reversed twin in-batch, so its rows
          // would NOT be span-free and the wave label would lie
          .unionByName(base.filter(col("doc_id") % 13 === 5 &&
              col("doc_id") % 11 =!= 3)
            .select((col("doc_id") + 40000000L).as("doc_id"), col("source"),
              revText.as("text")))
        graft.ops.MaximalRepeats
          .incrementalSpans(newb, base, maxRepAnchorIndex(s, d), maxRepK)
          .withColumn("wave", when(col("doc_id") < 20000000L, "clone")
            .when(col("doc_id") < 40000000L, "pair").otherwise("fresh"))
          .groupBy("wave")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("len")).as("dup_tokens"),
            max(col("len")).as("max_len"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("start") + 1L).as("sum_start"))
          .orderBy("wave")
      },
      Some("""WITH rev AS (SELECT doc_id, source,
             |    list_aggregate(list_reverse(list_filter(
             |      string_split(text, ' '), x -> x <> '')),
             |      'string_agg', ' ') AS text
             |  FROM documents),
             |uni AS (SELECT doc_id, source, text FROM documents
             |  UNION ALL SELECT doc_id + 10000000, source, text
             |    FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL SELECT doc_id + 20000000, source, text FROM rev
             |    WHERE doc_id % 11 = 3
             |  UNION ALL SELECT doc_id + 30000000, source, text FROM rev
             |    WHERE doc_id % 11 = 3
             |  UNION ALL SELECT doc_id + 40000000, source, text FROM rev
             |    WHERE doc_id % 13 = 5 AND doc_id % 11 <> 3),
             |t AS (SELECT doc_id, source,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |  FROM uni),
             |g AS (SELECT doc_id, source, u.p AS pos,
             |    list_aggregate(tk[u.p:u.p+24], 'string_agg', ' ') AS gram
             |  FROM t, LATERAL unnest(range(1, len(tk) - 23)) AS u(p)),
             |d AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
             |dp AS (SELECT g.doc_id, g.source, g.pos
             |  FROM g JOIN d USING (gram)),
             |isl AS (SELECT doc_id, source, pos,
             |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
             |        < 25 THEN 0 ELSE 1 END AS nb
             |  FROM dp),
             |isl2 AS (SELECT doc_id, source, pos,
             |    sum(nb) OVER (PARTITION BY doc_id ORDER BY pos) AS a
             |  FROM isl),
             |sp AS (SELECT doc_id, source, min(pos) AS start,
             |    max(pos) - min(pos) + 25 AS len
             |  FROM isl2 GROUP BY doc_id, source, a)
             |SELECT CASE WHEN doc_id < 20000000 THEN 'clone'
             |    WHEN doc_id < 40000000 THEN 'pair' ELSE 'fresh' END AS wave,
             |  CAST(count(*) AS BIGINT) AS n_spans,
             |  CAST(sum(len) AS BIGINT) AS dup_tokens,
             |  CAST(max(len) AS BIGINT) AS max_len,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(sum(start) AS BIGINT) AS sum_start
             |FROM sp WHERE doc_id >= 10000000
             |GROUP BY 1 ORDER BY wave""".stripMargin)),

    // PARQUET PHYSICAL-TYPE + NESTING COVERAGE (x204) — extends the
    // x194/x200 hand decode to the bytes real lakes actually store:
    // INT32 (PLAIN / dictionary / v2 DELTA_BINARY_PACKED), DOUBLE
    // (PLAIN / dictionary), DECIMAL(20,2) as FIXED_LEN_BYTE_ARRAY
    // (9-byte big-endian unscaled ints; v1 PLAIN + dictionary, v2
    // DELTA_BYTE_ARRAY — parquet-mr's v2 FLBA encoding), and a NESTED
    // array<bigint> column decoded with REAL repetition levels
    // (col.list.element, maxRep 1 / maxDef 2: rep 0 opens a row, def
    // 0/1/2 = null/empty/element — v1's length-prefixed and v2's
    // header-sized level sections both). Three stores (v1 dict, v1
    // plain, v2) are write-and-checked through the decoder (the
    // dropped-option race lesson) and the ORACLE predicts every fact
    // arithmetically from the same construction — never trusting a
    // reader (the x200 DELTA_BYTE_ARRAY find). For the arr rows,
    // num_values counts ELEMENTS, n_nulls counts NULL ARRAYS, and
    // min_v/max_v range over elements. Scale: chunk ranges read by
    // seek, one task per part file — x194's shape.
    QueryDef(
      "x204_parquet_typed_pages",
      (s, d) => {
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_x204_" +
          s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
        val bound = orders(s, d).agg(min("o_orderkey").cast(LongType))
          .first().getLong(0) + 8000L
        val k = col("o_orderkey").cast(LongType)
        val src = orders(s, d).filter(col("o_orderkey") <= bound).select(
          k.as("k"),
          when(k % 11 === 0, lit(null).cast("int"))
            .otherwise(((k * 17L) % 50L - 25L).cast("int")).as("i"),
          when(k % 13 === 0, lit(null).cast("double"))
            .otherwise((k % 40L).cast("double") / 8.0).as("f"),
          when(k % 23 === 0, lit(null).cast("decimal(20,2)"))
            .otherwise(((k % 30L) * 13L).cast("decimal(20,2)")).as("dec"),
          // element containsNull must stay FALSE (maxDef = 2, the decoder's
          // list scope) — `cast("array<bigint>")` would flip it to true
          when(k % 19 === 0,
            lit(null).cast(org.apache.spark.sql.types.ArrayType(LongType,
              containsNull = false)))
            // empty array with containsNull = FALSE: slice of a non-null
            // literal array (lit(Array.empty) infers containsNull = true
            // and the true→false cast is refused)
            .when(k % 17 === 0, expr("slice(array(CAST(0 AS BIGINT)), 1, 0)"))
            .otherwise(expr(
              "transform(sequence(CAST(1 AS BIGINT), 1 + o_orderkey % 4), " +
                "x -> coalesce((CAST(o_orderkey AS BIGINT) * x) % 50, " +
                "CAST(0 AS BIGINT)))")).as("arr"))
        try {
          def writeChecked(path: String, opts: Map[String, String])(
              okCheck: => Boolean): Unit = {
            def w(): Unit = {
              val base = src.coalesce(1).write.mode("overwrite")
                .option("parquet.block.size", "65536")
                .option("parquet.page.size", "4096")
              opts.foldLeft(base) { case (acc, (kk, v)) => acc.option(kk, v) }
                .parquet(path)
            }
            w()
            var attempts = 0
            while (attempts < 8 && !okCheck) { w(); attempts += 1 }
          }
          import graft.ops.ParquetPages
          def colOk(df: org.apache.spark.sql.DataFrame, wantDict: Boolean,
              wantV2: Boolean): Boolean = {
            val r = df.agg(min(when(col("ok"), 1L).otherwise(0L)),
              sum("n_dict_pages"), sum("n_v2_pages")).first()
            !r.isNullAt(0) && r.getLong(0) == 1L &&
              (r.getLong(1) > 0L) == wantDict && (r.getLong(2) > 0L) == wantV2
          }
          // parquet-mr's v1 writer has NO dictionary path for FLBA (always
          // PLAIN; v2 = DELTA_BYTE_ARRAY), so dec never expects dict pages
          def storeOk(path: String, wantDict: Boolean, wantV2: Boolean): Boolean =
            colOk(ParquetPages.int32Column(s, path, "i"), wantDict, wantV2) &&
              colOk(ParquetPages.doubleColumn(s, path, "f"), wantDict, wantV2) &&
              colOk(ParquetPages.flbaColumn(s, path, "dec"), false, wantV2) &&
              colOk(ParquetPages.listInt64Column(s, path, "arr"), wantDict, wantV2)
          writeChecked(s"$store/v1", Map("compression" -> "snappy"))(
            storeOk(s"$store/v1", wantDict = true, wantV2 = false))
          writeChecked(s"$store/v1nd", Map(
            "parquet.enable.dictionary" -> "false",
            "compression" -> "none"))(
            storeOk(s"$store/v1nd", wantDict = false, wantV2 = false))
          writeChecked(s"$store/v2", Map(
            "parquet.writer.version" -> "v2",
            "parquet.enable.dictionary" -> "false",
            "compression" -> "snappy"))(
            storeOk(s"$store/v2", wantDict = false, wantV2 = true))
          def numF(variant: String, cname: String,
              df: org.apache.spark.sql.DataFrame) =
            df.agg(sum("num_values").as("nv"), sum("n_nulls").as("nn"),
              sum("sum_v").as("sv"), min("min_v").as("mn"),
              max("max_v").as("mx"),
              min(when(col("ok"), 1L).otherwise(0L)).as("okm"),
              sum("n_dict_pages").as("nd"), sum("n_v2_pages").as("n2"))
              .select(lit(variant).as("variant"), lit(cname).as("col_name"),
                col("nv").as("n_rows"), col("nv").as("num_values"),
                col("nn").as("n_nulls"), col("sv").cast("double").as("sum_v"),
                col("mn").cast("double").as("min_v"),
                col("mx").cast("double").as("max_v"),
                lit(0L).as("n_empty"), lit(0L).as("max_row_len"),
                (col("okm") === 1L).as("ok_all"),
                (col("nd") > 0L).as("has_dict"), (col("n2") > 0L).as("has_v2"))
          def listF(variant: String, path: String) =
            ParquetPages.listInt64Column(s, path, "arr")
              .agg(sum("n_rows").as("nr"), sum("n_entries").as("nv"),
                sum("n_null_rows").as("nn"), sum("sum_v").as("sv"),
                min("min_v").as("mn"), max("max_v").as("mx"),
                sum("n_empty").as("ne"), max("max_row_len").as("ml"),
                min(when(col("ok"), 1L).otherwise(0L)).as("okm"),
                sum("n_dict_pages").as("nd"), sum("n_v2_pages").as("n2"))
              .select(lit(variant).as("variant"), lit("arr").as("col_name"),
                col("nr").as("n_rows"), col("nv").as("num_values"),
                col("nn").as("n_nulls"), col("sv").cast("double").as("sum_v"),
                col("mn").cast("double").as("min_v"),
                col("mx").cast("double").as("max_v"),
                col("ne").as("n_empty"), col("ml").as("max_row_len"),
                (col("okm") === 1L).as("ok_all"),
                (col("nd") > 0L).as("has_dict"), (col("n2") > 0L).as("has_v2"))
          def variantF(variant: String, path: String) =
            listF(variant, path)
              .unionByName(numF(variant, "dec",
                ParquetPages.flbaColumn(s, path, "dec")
                  .withColumnRenamed("sum_unscaled", "sum_v")
                  .withColumnRenamed("min_unscaled", "min_v")
                  .withColumnRenamed("max_unscaled", "max_v")))
              .unionByName(numF(variant, "f",
                ParquetPages.doubleColumn(s, path, "f")))
              .unionByName(numF(variant, "i",
                ParquetPages.int32Column(s, path, "i")))
          variantF("v1", s"$store/v1")
            .unionByName(variantF("v1nd", s"$store/v1nd"))
            .unionByName(variantF("v2", s"$store/v2"))
            .orderBy("variant", "col_name")
            // materialize before the finally deletes the store
            .localCheckpoint(eager = true)
        } finally {
          val p = new org.apache.hadoop.fs.Path(store)
          try p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: Exception => () }
        }
      },
      Some("""WITH bd AS (SELECT min(o_orderkey) + 8000 AS bound FROM orders),
             |src AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders, bd
             |  WHERE o_orderkey <= bound),
             |fi AS (SELECT CASE WHEN k % 11 = 0 THEN NULL
             |    ELSE (k * 17) % 50 - 25 END AS v FROM src),
             |ff AS (SELECT CASE WHEN k % 13 = 0 THEN NULL
             |    ELSE CAST(k % 40 AS DOUBLE) / 8.0 END AS v FROM src),
             |fd AS (SELECT CASE WHEN k % 23 = 0 THEN NULL
             |    ELSE (k % 30) * 1300 END AS v FROM src),
             |fa AS (SELECT k, CASE WHEN k % 19 = 0 THEN NULL
             |    WHEN k % 17 = 0 THEN 0 ELSE 1 + k % 4 END AS n FROM src),
             |fe AS (SELECT k, u.x AS x FROM fa,
             |  LATERAL unnest(range(1, n + 1)) u(x)),
             |ri AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(count(*) AS BIGINT) AS num_values,
             |    CAST(count(*) - count(v) AS BIGINT) AS n_nulls,
             |    CAST(sum(v) AS DOUBLE) AS sum_v,
             |    CAST(min(v) AS DOUBLE) AS min_v,
             |    CAST(max(v) AS DOUBLE) AS max_v,
             |    CAST(0 AS BIGINT) AS n_empty,
             |    CAST(0 AS BIGINT) AS max_row_len FROM fi),
             |rf AS (SELECT CAST(count(*) AS BIGINT),
             |    CAST(count(*) AS BIGINT),
             |    CAST(count(*) - count(v) AS BIGINT),
             |    CAST(sum(v) AS DOUBLE), CAST(min(v) AS DOUBLE),
             |    CAST(max(v) AS DOUBLE), CAST(0 AS BIGINT),
             |    CAST(0 AS BIGINT) FROM ff),
             |rd AS (SELECT CAST(count(*) AS BIGINT),
             |    CAST(count(*) AS BIGINT),
             |    CAST(count(*) - count(v) AS BIGINT),
             |    CAST(sum(v) AS DOUBLE), CAST(min(v) AS DOUBLE),
             |    CAST(max(v) AS DOUBLE), CAST(0 AS BIGINT),
             |    CAST(0 AS BIGINT) FROM fd),
             |raa AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(coalesce(sum(n), 0) AS BIGINT) AS num_values,
             |    CAST(sum(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_nulls,
             |    CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_empty,
             |    CAST(max(coalesce(n, 0)) AS BIGINT) AS max_row_len FROM fa),
             |rae AS (SELECT CAST(sum((k * x) % 50) AS DOUBLE) AS sum_v,
             |    CAST(min((k * x) % 50) AS DOUBLE) AS min_v,
             |    CAST(max((k * x) % 50) AS DOUBLE) AS max_v FROM fe),
             |ra AS (SELECT n_rows, num_values, n_nulls, sum_v, min_v,
             |    max_v, n_empty, max_row_len FROM raa, rae)
             |SELECT variant, col_name, n_rows, num_values, n_nulls, sum_v,
             |  min_v, max_v, n_empty, max_row_len, TRUE AS ok_all,
             |  has_dict, has_v2
             |FROM (
             |  SELECT 'v1' AS variant, 'arr' AS col_name, ra.*,
             |    TRUE AS has_dict, FALSE AS has_v2 FROM ra
             |  UNION ALL SELECT 'v1', 'dec', rd.*, FALSE, FALSE FROM rd
             |  UNION ALL SELECT 'v1', 'f', rf.*, TRUE, FALSE FROM rf
             |  UNION ALL SELECT 'v1', 'i', ri.*, TRUE, FALSE FROM ri
             |  UNION ALL SELECT 'v1nd', 'arr', ra.*, FALSE, FALSE FROM ra
             |  UNION ALL SELECT 'v1nd', 'dec', rd.*, FALSE, FALSE FROM rd
             |  UNION ALL SELECT 'v1nd', 'f', rf.*, FALSE, FALSE FROM rf
             |  UNION ALL SELECT 'v1nd', 'i', ri.*, FALSE, FALSE FROM ri
             |  UNION ALL SELECT 'v2', 'arr', ra.*, FALSE, TRUE FROM ra
             |  UNION ALL SELECT 'v2', 'dec', rd.*, FALSE, TRUE FROM rd
             |  UNION ALL SELECT 'v2', 'f', rf.*, FALSE, TRUE FROM rf
             |  UNION ALL SELECT 'v2', 'i', ri.*, FALSE, TRUE FROM ri)
             |ORDER BY variant, col_name""".stripMargin)),

    // STATE-BACKEND MATRIX: TTL × TIMERS × ROCKSDB CONFIG (x205) — the
    // combination a production 100 TB deployment actually runs: x199
    // gates TTL, x157 gates event-time timers, x195 gates the RocksDB
    // provider — this gate runs ONE processor holding TTL'd value
    // states AND registered timers on ONE state store
    // (streaming/TtlTimerSessions: batch-run sessionization closed by
    // PROCESSING-time timers next to a long-TTL accumulator and a
    // 1 ms-TTL per-batch cell). Platform facts the gate documents (both
    // probed on Spark 4.1.2): transformWithState CANNOT run on the
    // HDFS-backed heap provider at all (multiple column families
    // unsupported — STATE_STORE_MULTIPLE_COLUMN_FAMILIES), and state
    // TTL is PROCESSING-time-only (INCORRECT_TIME_MODE_TO_ASSIGN_TTL
    // under EventTime) — so the axes are: TTL + processing-time timers
    // in one processor, × the two RocksDB persistence modes a
    // deployment chooses between — SST-snapshot checkpointing (default)
    // vs CHANGELOG checkpointing (the low-latency production
    // recommendation; different files, different recovery path, same
    // required semantics). Both runs assert RocksDB use from the
    // query's own state-operator custom metrics (x195's discipline)
    // and their outputs are unioned, so hash-identity ACROSS MODES is
    // the gate itself: mode-specific TTL-expiry or timer drift cannot
    // pass. The oracle computes both faces once — x199's running/
    // per-batch rollup for the TTL rows, and for the timer rows the
    // closed form the processor's timer arithmetic reduces to: runs =
    // maximal sequences of CONSECUTIVE staged batches containing the
    // key (gaps-and-islands over distinct (user, batch)) — and
    // cross-joins the mode labels. Scale: fixed-width state + one
    // timer per ACTIVE key, store-enforced expiry — bounded state in
    // either mode.
    QueryDef(
      "x205_stream_ttl_timer_matrix",
      (s, d) => {
        val staged = events(s, d)
          .select(col("user_id"), col("event_id"),
            floor(col("value") * 100).cast(LongType).as("cents"),
            eventBatch.as("b"))
        def runOn(changelog: Boolean, label: String) = {
          val sawRocks = new java.util.concurrent.atomic.AtomicBoolean(false)
          val out = graft.streaming.StreamGate.replayStaged(
            s, staged, s"x205_events_$label", "b", 4, "append",
            progress = p =>
              if (graft.streaming.StreamGate.usesRocksDb(p)) sawRocks.set(true),
            // TimeMode.ProcessingTime never terminates under
            // AvailableNow; the paced trigger also guarantees the
            // trailing no-data batch that fires the final runs' timers
            availableNow = false,
            conf = Map(graft.streaming.StreamGate.RocksDb,
              "spark.sql.streaming.stateStore.rocksdb." +
                "changelogCheckpointing.enabled" -> changelog.toString)) { stream =>
            graft.streaming.TtlTimerSessions.run(
              stream.as[graft.streaming.TtlTimerSessions.EventIn](
                org.apache.spark.sql.Encoders.product)).toDF()
          }
          out.select(lit(label).as("mode"), col("user_id"), col("kind"),
            col("a"), col("b"), col("c"), col("d"),
            lit(sawRocks.get()).as("rocks_metric"))
        }
        // The two persistence-mode legs are INDEPENDENT replays (own
        // session, own staging dir, own state stores): run them
        // concurrently; a failed leg stops the other's stream. Each leg's
        // emissions are unchanged; the final full-tiebreak sort fixes the
        // union order.
        val (snap, log) = Concurrently.both(s)(
          runOn(changelog = false, "snapshot"), runOn(changelog = true, "changelog"))
        snap.unionByName(log)
          .orderBy("mode", "user_id", "kind", "a", "c")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |    CAST(floor("value" * 100) AS BIGINT) AS cents,
             |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS b
             |  FROM events),
             |gq AS (SELECT user_id, b AS bb, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(cents) AS BIGINT) AS sc
             |  FROM e GROUP BY 1, 2),
             |ttl AS (SELECT user_id, 'ttl' AS kind,
             |    CAST(sum(n) OVER w AS BIGINT) AS a,
             |    CAST(sum(sc) OVER w AS BIGINT) AS b,
             |    n AS c, sc AS d
             |  FROM gq
             |  WINDOW w AS (PARTITION BY user_id ORDER BY bb
             |    ROWS UNBOUNDED PRECEDING)),
             |bi AS (SELECT user_id, bb,
             |    bb - row_number() OVER (PARTITION BY user_id ORDER BY bb)
             |      AS g
             |  FROM gq),
             |sq AS (SELECT user_id, g, min(bb) AS b0,
             |    CAST(row_number() OVER (PARTITION BY user_id
             |      ORDER BY min(bb)) AS BIGINT) AS seq
             |  FROM bi GROUP BY 1, 2),
             |rs AS (SELECT bi.user_id, bi.g,
             |    CAST(sum(gq.n) AS BIGINT) AS n,
             |    CAST(sum(gq.sc) AS BIGINT) AS sc
             |  FROM gq JOIN bi ON gq.user_id = bi.user_id AND gq.bb = bi.bb
             |  GROUP BY 1, 2),
             |sout AS (SELECT rs.user_id, 'sess' AS kind, sq.seq AS a,
             |    rs.n AS b, rs.sc AS c, CAST(0 AS BIGINT) AS d
             |  FROM rs JOIN sq ON rs.user_id = sq.user_id AND rs.g = sq.g),
             |one AS (SELECT * FROM ttl UNION ALL SELECT * FROM sout),
             |pv(mode, rocks_metric) AS (VALUES ('changelog', TRUE),
             |  ('snapshot', TRUE))
             |SELECT pv.mode, o.user_id, o.kind, o.a, o.b, o.c, o.d,
             |  pv.rocks_metric
             |FROM one o, pv
             |ORDER BY mode, user_id, kind, a, c""".stripMargin)),

    // PRODUCT QUANTIZATION + ADC SEARCH (x206) — the vector-search scale
    // path the IVF family (x07/x23) compresses TOWARD: vectors are cut
    // into m = 8 subspaces of 8 dims, each subvector is encoded as the
    // nearest of k = 16 codewords (PQ codes: 8 bytes/vector instead of
    // 256), and queries are answered by ASYMMETRIC DISTANCE COMPUTATION —
    // one |q|×(m·k) lookup table of query-to-codeword distances, then
    // each corpus vector's approximate distance is a SUM OF 8 TABLE
    // LOOKUPS, never a 64-dim loop (Jégou et al., "Product Quantization
    // for Nearest Neighbor Search"). Everything runs on x128's
    // integer-quantized vectors (global max-abs scale → ±127 BIGINTs), so
    // codes, ADC sums, and rankings are EXACT cross-engine — zero float
    // parity care. Codebooks are pseudo-sampled corpus vectors (the
    // x07/x23 discipline: lowest 16 ids ≡ 1 mod 31), argmin ties break to
    // the lowest codeword, rankings tie on (dist, vec_id). The gate
    // reports recall@10 of ADC against the EXACT integer-L2 top-10 plus
    // the per-query ADC sum of the chosen 10 — a ranking-independent pin
    // on the lookup-table arithmetic itself. Scale: encode is corpus ×
    // m·k narrow work against a BROADCAST 128-row codebook; ADC is corpus
    // × m joined to the broadcast query table — never corpus²; the exact
    // side is x128's broadcast top-k over a bounded query sample.
    QueryDef(
      "x206_pq_adc",
      (s, d) => {
        def l2(a: String, b: String) =
          s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        val e0 = embeddings(s, d).select("vec_id", "embedding")
        val g = e0.agg(max(expr(
          "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("g"))
        val e = e0.crossJoin(broadcast(g))
          .select(col("vec_id"), expr(
            "CASE WHEN g = 0.0 THEN array_repeat(CAST(0 AS BIGINT), " +
              "size(embedding)) ELSE transform(embedding, x -> " +
              "CAST(round(CAST(x AS DOUBLE) * 127 / g) AS BIGINT)) END").as("qv"))
          .localCheckpoint(true) // codebook + encode + queries + exact side
        // Round 13: the m·k = 128-row codebook is COLLECTED once (driver-
        // held model state) instead of eagerly checkpointed — the argmin
        // unroll and the query-distance table below both consume the
        // collected rows, so the former checkpoint was a whole extra
        // materialization job for a metadata-sized frame.
        import s.implicits._
        val cbRows = collectPqCb(e.filter(col("vec_id") % 31 === 1)
          .withColumn("rk", row_number().over(Window.orderBy("vec_id")))
          .filter(col("rk") <= 16)
          .select((col("rk") - 1).cast(LongType).as("cw"),
            posexplode(expr(
              "transform(sequence(0, 7), t -> slice(qv, t * 8 + 1, 8))"))
              .as(Seq("sb", "cvec"))))
        val cb = cbRows.toSeq.toDF("sb", "cw", "cvec") // local frame, no recompute
        // encode: the shared inline scorer (pqArgminRows, round 12) — the
        // packed dv·16+cw argmin unrolls into one codegen projection; the
        // former broadcast-join fan-out (|corpus|·m × k rows through an
        // interpreted l2 lambda) and the min(struct(dv, cw)) aggregate are
        // gone. dv and the tie-to-lowest-cw choice are integer-identical.
        val codes = e.select(col("vec_id"),
            posexplode(expr(
              "transform(sequence(0, 7), t -> slice(qv, t * 8 + 1, 8))"))
              .as(Seq("sb", "sub")))
          .withColumn("sub2",
            graft.functions.IntDotProduct.intDot(col("sub"), col("sub")))
          .withColumn("code", pqArgminRows(cbRows))
          .select("vec_id", "sb", "code")
        val q = e.filter(col("vec_id") % 53 === 7 && col("vec_id") < 20000)
          .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
          .localCheckpoint(true) // bounded query sample (x69/x124 argument)
        // |q|²+|n|²−2q·n with the native dot (round 12, x210's referee
        // form): norms once per side, the per-pair work is one codegen dot
        // loop. Round 13: the exact side reads only the e/q checkpoints,
        // so its materialization overlaps the ADC branch below instead of
        // running serially inside the final assembly job.
        val exactDf = e.select(col("vec_id").as("n_id"), col("qv").as("n_qv"))
          .withColumn("n2",
            graft.functions.IntDotProduct.intDot(col("n_qv"), col("n_qv")))
          .join(broadcast(q.withColumn("q2",
            graft.functions.IntDotProduct.intDot(col("q_qv"), col("q_qv")))),
            col("n_id") =!= col("q_id"))
          .withColumn("dist", col("q2") + col("n2") - lit(2L) *
            graft.functions.IntDotProduct.intDot(col("q_qv"), col("n_qv")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(col("dist"), col("n_id"))))
          .filter(col("rn") <= 10)
          .select("q_id", "n_id")
        val qd = q.crossJoin(broadcast(cb))
          .withColumn("qd", expr(l2("slice(q_qv, sb * 8 + 1, 8)", "cvec")))
          .select(col("q_id"), col("sb").as("qsb"), col("cw"), col("qd"))
        val ap = codes
          .join(broadcast(qd),
            col("sb") === col("qsb") && col("code") === col("cw"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id").as("n_id"))
          .agg(sum(col("qd")).as("adc"))
        val atopDf = ap
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))))
          .filter(col("rn") <= 10)
          .select("q_id", "n_id", "adc")
        // the exact referee and the ADC top-10 (read by overlap + adc_sum)
        // materialize concurrently; both sides are 10·|queries| rows —
        // broadcast the exact side
        val (exact, atop) = Concurrently.both(s)(
          exactDf.localCheckpoint(true), atopDf.localCheckpoint(true))
        val ov = atop.join(broadcast(exact), Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
        val asum = atop.groupBy("q_id").agg(sum(col("adc")).as("adc_sum"))
        q.select("q_id")
          .join(broadcast(ov), Seq("q_id"), "left")
          .join(broadcast(asum), Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_overlap"), lit(0L)).cast(LongType).as("n_overlap"),
            expr("CAST(coalesce(n_overlap, 0) * 1000000 div 10 AS BIGINT)")
              .as("recall_ppm"),
            coalesce(col("adc_sum"), lit(0L)).cast(LongType).as("adc_sum"))
          .orderBy("q_id")
      },
      Some("""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb
             |  FROM embeddings),
             |g AS (SELECT max(list_max(list_transform(emb, x -> abs(x))))
             |    AS g FROM e0),
             |e AS (SELECT vec_id,
             |    CASE WHEN g.g = 0.0
             |      THEN list_transform(emb, x -> CAST(0 AS BIGINT))
             |      ELSE list_transform(emb, x ->
             |        CAST(round(x * 127 / g.g) AS BIGINT)) END AS qv
             |  FROM e0, g),
             |cbv AS (SELECT qv,
             |    row_number() OVER (ORDER BY vec_id) - 1 AS cw
             |  FROM e WHERE vec_id % 31 = 1 QUALIFY cw <= 15),
             |cb AS (SELECT cw, t.sb AS sb,
             |    qv[CAST(t.sb * 8 + 1 AS INT) : CAST(t.sb * 8 + 8 AS INT)]
             |      AS cvec
             |  FROM cbv, LATERAL unnest(range(0, 8)) t(sb)),
             |cd AS (SELECT e.vec_id, cb.sb, cb.cw,
             |    list_sum(list_transform(range(1, 9), i ->
             |      (qv[CAST(cb.sb * 8 + i AS INT)] - cvec[CAST(i AS INT)]) *
             |      (qv[CAST(cb.sb * 8 + i AS INT)] - cvec[CAST(i AS INT)])))
             |      AS dv
             |  FROM e, cb),
             |codes AS (SELECT vec_id, sb, cw AS code FROM (
             |    SELECT vec_id, sb, cw, row_number() OVER (
             |      PARTITION BY vec_id, sb ORDER BY dv, cw) AS rn FROM cd)
             |  WHERE rn = 1),
             |q AS (SELECT vec_id AS q_id, qv AS q_qv FROM e
             |  WHERE vec_id % 53 = 7 AND vec_id < 20000),
             |qd AS (SELECT q_id, cb.sb, cb.cw,
             |    list_sum(list_transform(range(1, 9), i ->
             |      (q_qv[CAST(cb.sb * 8 + i AS INT)] - cvec[CAST(i AS INT)]) *
             |      (q_qv[CAST(cb.sb * 8 + i AS INT)] - cvec[CAST(i AS INT)])))
             |      AS qd
             |  FROM q, cb),
             |ap AS (SELECT qd.q_id, codes.vec_id AS n_id,
             |    CAST(sum(qd.qd) AS BIGINT) AS adc
             |  FROM codes JOIN qd ON codes.sb = qd.sb AND codes.code = qd.cw
             |  WHERE codes.vec_id <> qd.q_id GROUP BY 1, 2),
             |atop AS (SELECT q_id, n_id, adc FROM (
             |    SELECT q_id, n_id, adc, row_number() OVER (
             |      PARTITION BY q_id ORDER BY adc, n_id) AS rn FROM ap)
             |  WHERE rn <= 10),
             |ex AS (SELECT q_id, n_id FROM (
             |    SELECT q.q_id, e.vec_id AS n_id, row_number() OVER (
             |      PARTITION BY q.q_id ORDER BY
             |        list_sum(list_transform(range(1, 65), i ->
             |          (q_qv[CAST(i AS INT)] - qv[CAST(i AS INT)]) *
             |          (q_qv[CAST(i AS INT)] - qv[CAST(i AS INT)]))),
             |        e.vec_id) AS rn
             |    FROM q JOIN e ON e.vec_id <> q.q_id)
             |  WHERE rn <= 10),
             |ov AS (SELECT atop.q_id, CAST(count(*) AS BIGINT) AS n_overlap
             |  FROM atop JOIN ex USING (q_id, n_id) GROUP BY 1),
             |asum AS (SELECT q_id, CAST(sum(adc) AS BIGINT) AS adc_sum
             |  FROM atop GROUP BY 1)
             |SELECT q.q_id, coalesce(ov.n_overlap, 0) AS n_overlap,
             |  CAST(coalesce(ov.n_overlap, 0) * 1000000 // 10 AS BIGINT)
             |    AS recall_ppm,
             |  coalesce(asum.adc_sum, 0) AS adc_sum
             |FROM q LEFT JOIN ov ON q.q_id = ov.q_id
             |LEFT JOIN asum ON q.q_id = asum.q_id
             |ORDER BY q.q_id""".stripMargin)),

    // STREAMING FULL-OUTER JOIN (x207) — completes the stream-stream join
    // family (x152 inner, x155 left-outer): BOTH sides' unmatched rows
    // must null-emit, each under its OWN eviction frontier. The
    // asymmetric conditions are the point of the gate: a signup's null
    // row may emit only when the watermark proves no future purchase can
    // match (s_ts + 4h < W — future purchases have p_ts > W), while a
    // purchase's null row emits when no future SIGNUP can match
    // (p_ts < W — matching signups need s_ts ≥ p_ts − 4h and s_ts < p_ts,
    // and future arrivals sit above W). Purchases are staged two batches
    // late for event_id % 6 = 1 (late-data drops on the right side flip
    // rows from pair to BOTH-SIDES-NULL — the hardest case). The oracle
    // reuses x155's calibrated watermark arithmetic (per-batch admitted
    // filters, wmLate_b = W_{b-2}) and adds the right-null leg. NOTE:
    // x155's interval-bucketing trick is deliberately ABSENT — exploding
    // candidate buckets on either side would duplicate that side's null
    // row; full-outer preserves BOTH sides, so the join runs on the raw
    // range condition. Scale: state bounded by delay × arrival rate on
    // both sides; the probe amplification the bucketing avoided is the
    // price of two-sided preservation (priced, gate-sized here).
    QueryDef(
      "x207_stream_full_outer_join",
      (s, d) => {
        val staged = events(s, d)
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
            eventBatch.as("q"))
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
            expr("CAST(CASE WHEN event_type = 'purchase' AND event_id % 6 = 1 " +
              "THEN least(q + 2, 3) ELSE q END AS INT)").as("b"))
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x207_events", "b", 4, "append") { stream =>
          val left = stream.filter(col("event_type") === "signup")
            .select(col("event_id").as("s_id"), col("user_id"),
              col("ts").as("s_ts"))
            .withWatermark("s_ts", "3 days")
          val right = stream.filter(col("event_type") === "purchase")
            .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
            .withWatermark("p_ts", "3 days")
          left.join(right,
              col("user_id") === col("p_user") &&
                col("p_ts") > col("s_ts") &&
                col("p_ts") <= col("s_ts") + expr("INTERVAL 4 HOURS"),
              "full_outer")
            .select(coalesce(col("user_id"), col("p_user")).as("uid"),
              col("s_id"), unix_micros(col("s_ts")).as("s_us"),
              col("p_id"), unix_micros(col("p_ts")).as("p_us"))
        }
        // NULLS LAST explicitly: Spark's default ASC is nulls-first while
        // DuckDB's is nulls-last, and full-outer output has null keys on
        // BOTH sides (x155 dodged this because only p_id could be null
        // and never inside a sort group with a non-null p_id)
        out.orderBy(col("uid"), col("s_id").asc_nulls_last,
          col("p_id").asc_nulls_last)
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type,
             |    epoch_us(ts) AS us,
             |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS q
             |  FROM events WHERE event_type IN ('signup', 'purchase')),
             |e AS (SELECT *, CASE WHEN event_type = 'purchase' AND event_id % 6 = 1
             |    THEN LEAST(q + 2, 3) ELSE q END AS b FROM ev),
             |mb AS (SELECT b,
             |    max(CASE WHEN event_type = 'signup' THEN us END) AS ml,
             |    max(CASE WHEN event_type = 'purchase' THEN us END) AS mr
             |  FROM e GROUP BY b),
             |rm AS (SELECT b,
             |    max(ml) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cml,
             |    max(mr) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cmr
             |  FROM mb),
             |w AS (SELECT b, LEAST((cml // 1000) * 1000, (cmr // 1000) * 1000)
             |    - 259200000000 AS wv FROM rm),
             |wl AS (SELECT b, lag(wv, 2) OVER (ORDER BY b) AS wm_late FROM w),
             |sa AS (SELECT e.event_id AS s_id, e.user_id, e.us AS s_us
             |  FROM e JOIN wl ON e.b = wl.b
             |  WHERE e.event_type = 'signup'
             |    AND (wl.wm_late IS NULL OR e.us > wl.wm_late)),
             |pa AS (SELECT e.event_id AS p_id, e.user_id, e.us AS p_us
             |  FROM e JOIN wl ON e.b = wl.b
             |  WHERE e.event_type = 'purchase'
             |    AND (wl.wm_late IS NULL OR e.us > wl.wm_late)),
             |pairs AS (SELECT sa.user_id AS uid, sa.s_id, sa.s_us, pa.p_id,
             |    pa.p_us
             |  FROM sa JOIN pa ON pa.user_id = sa.user_id
             |    AND pa.p_us > sa.s_us AND pa.p_us <= sa.s_us + 14400000000),
             |fin AS (SELECT wv AS wfin FROM w WHERE b = 3),
             |lnull AS (SELECT sa.user_id AS uid, sa.s_id, sa.s_us,
             |    CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS BIGINT) AS p_us
             |  FROM sa, fin
             |  WHERE sa.s_us + 14400000000 < fin.wfin
             |    AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.s_id = sa.s_id)),
             |rnull AS (SELECT pa.user_id AS uid, CAST(NULL AS BIGINT) AS s_id,
             |    CAST(NULL AS BIGINT) AS s_us, pa.p_id, pa.p_us
             |  FROM pa, fin
             |  WHERE pa.p_us < fin.wfin
             |    AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.p_id = pa.p_id))
             |SELECT uid, s_id, s_us, p_id, p_us FROM pairs
             |UNION ALL SELECT uid, s_id, s_us, p_id, p_us FROM lnull
             |UNION ALL SELECT uid, s_id, s_us, p_id, p_us FROM rnull
             |ORDER BY uid, s_id, p_id""".stripMargin)),

    // HTML TEXT EXTRACTION (x208) — the step between the container walks
    // (WARC x117, gzip x118, composed crawl ingest x121) and every text
    // operator in the catalog: crawl pipelines feed dedup/quality/
    // tokenization with EXTRACTED text, not markup. ops/HtmlText runs
    // the five-stage codegen'd pipeline (comments → script/style blocks
    // → tags → entity decode — amp LAST, so text that SPELLS a tag
    // survives as text — → whitespace collapse). Paired construction
    // with an ARITHMETIC ground truth (the x198/x158 discipline): both
    // engines assemble the same HTML from corpus-derived tokens — with
    // quoted markup INSIDE the script body (a lazy close-tag regex leak
    // flips the hash), a '>' inside the style body, uppercase tag
    // variants, an &amp; inside an href (must vanish with its tag), and
    // entity-spelled markup in text position — and the ORACLE never
    // parses HTML at all: it predicts the extracted text directly from
    // the pieces, so any mis-extraction (leaked script text, eaten
    // entities, bad collapse) breaks the per-doc md5. Scale: narrow
    // per-row string work inside codegen, no shuffle before the
    // presentation sort.
    QueryDef(
      "x208_html_extract",
      (s, d) => {
        val cleaned = (1 to 8).map(i =>
          regexp_replace(element_at(col("tk"), i), "[^a-z]", "").as(s"c$i"))
        val base = documents(s, d).filter(col("doc_id") < 3000)
          .select(col("doc_id"), tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 8)
          .select(col("doc_id") +: cleaned: _*)
          .filter((1 to 8).map(i => length(col(s"c$i")) > 0).reduce(_ && _))
        val html = concat(
          lit("<html><head><title> "), col("c1"), lit(" </title>"),
          lit("<SCRIPT type=\"text/javascript\">var x = '<p>not text</p>';" +
            "</SCRIPT><style>\n.c > div { color: red; }\n</style>" +
            "</head><body><h1>"), col("c2"),
          lit("</h1><P>"), col("c3"), lit(" &amp; "), col("c4"),
          lit("&nbsp;<a href=\"http://ex.com/?a=1&amp;b=2\">"), col("c5"),
          lit("</a></P><div><p>"), col("c6"), lit("<br/>"), col("c7"),
          lit("&#39;s &lt;tag&gt;</p></div><!-- hidden "), col("c8"),
          lit(" --></body></html>"))
        base.withColumn("txt", graft.ops.HtmlText.extract(html))
          .withColumn("title", graft.ops.HtmlText.title(html))
          .select(col("doc_id"), col("title"),
            size(split(col("txt"), " ")).cast(LongType).as("n_tok"),
            length(col("txt")).cast(LongType).as("text_len"),
            md5(col("txt").cast("binary")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents
              |  WHERE doc_id < 3000),
              |c AS (SELECT doc_id,
              |    regexp_replace(tk[1], '[^a-z]', '', 'g') AS c1,
              |    regexp_replace(tk[2], '[^a-z]', '', 'g') AS c2,
              |    regexp_replace(tk[3], '[^a-z]', '', 'g') AS c3,
              |    regexp_replace(tk[4], '[^a-z]', '', 'g') AS c4,
              |    regexp_replace(tk[5], '[^a-z]', '', 'g') AS c5,
              |    regexp_replace(tk[6], '[^a-z]', '', 'g') AS c6,
              |    regexp_replace(tk[7], '[^a-z]', '', 'g') AS c7,
              |    regexp_replace(tk[8], '[^a-z]', '', 'g') AS c8
              |  FROM tk WHERE len(tk) >= 8),
              |f AS (SELECT * FROM c
              |  WHERE length(c1) > 0 AND length(c2) > 0 AND length(c3) > 0
              |    AND length(c4) > 0 AND length(c5) > 0 AND length(c6) > 0
              |    AND length(c7) > 0 AND length(c8) > 0),
              |p AS (SELECT doc_id, c1 AS title,
              |    c1 || ' ' || c2 || ' ' || c3 || ' & ' || c4 || ' ' || c5 ||
              |      ' ' || c6 || ' ' || c7 || '''s <tag>' AS txt
              |  FROM f)
              |SELECT doc_id, title,
              |  CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tok,
              |  CAST(length(txt) AS BIGINT) AS text_len,
              |  md5(txt) AS text_md5
              |FROM p ORDER BY doc_id""".stripMargin)),

    // ARROW IPC STREAM DECODE (x209) — the interchange format the modern
    // lake moves bytes in (Spark↔pandas, Flight, dataset exchange),
    // extending the hand-decode family (parquet x194/x200/x204, ORC
    // x175, Avro x178) to Arrow's encapsulated-message framing AND the
    // flatbuffers wire format itself: ops/ArrowIpc walks continuation +
    // metadata-length frames, reads Message/Schema/Field/RecordBatch
    // flatbuffer tables directly (vtable slots, signed soffsets, inline
    // FieldNode/Buffer structs), and decodes validity bitmaps, INT64 /
    // FLOAT8 data buffers, and UTF8 offset+data buffers. DIFFERENTIAL:
    // the streams are written per partition by ARROW-JAVA (Spark's own
    // vendored arrow — executor-side mapPartitions, never a driver
    // materialization) and every value fact must match the ORACLE's
    // arithmetic prediction from the generating formulas — the decoder
    // sits between two independent constructions. Per-node null counts
    // are cross-checked against the decoded bitmaps; dictionary batches,
    // nested fields, and compressed batches route to ok = false
    // (ArrowIpcSpec adds the truncation/flip fuzz and the arrow-java
    // round-trip at spec level). Sums stay order-free exact: ints in
    // Long, doubles as multiples of 1/8 below 2^53. Scale: one stream
    // per partition, decode is a narrow per-blob walk — x194's shape on
    // the wire format one layer up.
    QueryDef(
      "x209_arrow_ipc",
      (s, d) => {
        import s.implicits._
        val bound = orders(s, d).agg(min("o_orderkey").cast(LongType))
          .first().getLong(0) + 8000L
        val k = col("o_orderkey").cast(LongType)
        val src = orders(s, d).filter(col("o_orderkey") <= bound).select(
          k.as("k"),
          when(k % 7 === 0, lit(null).cast(LongType))
            .otherwise((k * 31L) % 97L).as("v"),
          when(k % 13 === 0, lit(null).cast("double"))
            .otherwise((k % 40L).cast("double") / 8.0).as("f"),
          when(k % 9 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("prefix-"), k % 37L, lit("-value-"),
              (k * 13L) % 101L)).as("s"))
        val blobs = src.repartition(4, pmod(col("k"), lit(4)))
          .mapPartitions(it => Iterator.single(arrowStreamBytes(it, 1000)))
        val decoded = blobs.map(graft.ops.ArrowIpc.decode).toDF()
        val sagg = decoded.agg(count(lit(1)).as("ns"),
          min(col("ok").cast("int")).as("oks"))
        decoded
          .select(col("ok").cast("int").as("sok"), explode(col("cols")).as("c"))
          .select(col("sok"), col("c.*"))
          .withColumn("sv",
            when(col("typ") === "int64", col("sum_long").cast("double"))
              .when(col("typ") === "float64", col("sum_double"))
              .otherwise(col("sum_len").cast("double")))
          .groupBy(col("name").as("col_name"), col("typ"))
          .agg(count(lit(1)).as("nsc"), sum("n_values").as("n_values"),
            sum("n_nulls").as("n_nulls"), sum("sv").as("sum_v"),
            min(when(col("typ") === "int64", col("min_long"))).as("mn"),
            max(when(col("typ") === "int64", col("max_long"))).as("mx"),
            min(col("ok").cast("int")).as("okc"),
            min(col("sok")).as("soks"))
          .crossJoin(broadcast(sagg))
          .select(col("col_name"), col("typ"),
            col("ns").cast(LongType).as("n_streams"),
            col("n_values"), col("n_nulls"), col("sum_v"),
            coalesce(col("mn"), lit(0L)).as("min_v"),
            coalesce(col("mx"), lit(0L)).as("max_v"),
            (col("okc") === 1 && col("soks") === 1 && col("oks") === 1 &&
              col("nsc") === col("ns")).as("ok_all"))
          .orderBy("col_name")
      },
      Some("""WITH bd AS (SELECT min(o_orderkey) + 8000 AS bound FROM orders),
             |src AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders, bd
             |  WHERE o_orderkey <= bound),
             |fv AS (SELECT k,
             |    CASE WHEN k % 7 = 0 THEN NULL ELSE (k * 31) % 97 END AS v,
             |    CASE WHEN k % 13 = 0 THEN NULL
             |      ELSE CAST(k % 40 AS DOUBLE) / 8.0 END AS f,
             |    CASE WHEN k % 9 = 0 THEN NULL
             |      ELSE 'prefix-' || CAST(k % 37 AS VARCHAR) || '-value-' ||
             |        CAST((k * 13) % 101 AS VARCHAR) END AS s
             |  FROM src)
             |SELECT col_name, typ, CAST(4 AS BIGINT) AS n_streams, n_values,
             |  n_nulls, sum_v, min_v, max_v, TRUE AS ok_all
             |FROM (
             |  SELECT 'f' AS col_name, 'float64' AS typ,
             |    CAST(count(f) AS BIGINT) AS n_values,
             |    CAST(count(*) - count(f) AS BIGINT) AS n_nulls,
             |    CAST(sum(f) AS DOUBLE) AS sum_v,
             |    CAST(0 AS BIGINT) AS min_v, CAST(0 AS BIGINT) AS max_v
             |  FROM fv
             |  UNION ALL SELECT 'k', 'int64', CAST(count(*) AS BIGINT),
             |    CAST(0 AS BIGINT), CAST(sum(k) AS DOUBLE),
             |    CAST(min(k) AS BIGINT), CAST(max(k) AS BIGINT) FROM fv
             |  UNION ALL SELECT 's', 'utf8', CAST(count(s) AS BIGINT),
             |    CAST(count(*) - count(s) AS BIGINT),
             |    CAST(sum(length(s)) AS DOUBLE),
             |    CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM fv
             |  UNION ALL SELECT 'v', 'int64', CAST(count(v) AS BIGINT),
             |    CAST(count(*) - count(v) AS BIGINT),
             |    CAST(sum(v) AS DOUBLE), CAST(min(v) AS BIGINT),
             |    CAST(max(v) AS BIGINT) FROM fv)
             |ORDER BY col_name""".stripMargin)),

    // TRAINED IVF-PQ (x210) — the FAISS IVFADC layout, composed from the
    // two existing gates: x23's driver-held Lloyd training becomes the
    // COARSE quantizer (k = 8, range-bucket init → assign → floor-mean
    // update → assign, all integer-exact), and x206's PQ machinery gains
    // TRAINED per-subspace codebooks over the COARSE RESIDUALS (m = 8
    // subspaces × 8 dims, kpq = 16; x206's %31-sample now only SEEDS one
    // Lloyd round: assign → floor-mean update → final codes). The search
    // is ADC restricted to the query's probed coarse cluster (nprobe = 1
    // — the assignment argmin IS the nearest-centroid rule), never the
    // corpus, and the gate proves that IN-BAND: n_cands (candidates
    // actually ADC-scored per query) is an output column both engines
    // must agree on, bounded by cluster occupancy (the spec pins
    // max(n_cands) < corpus). Everything is integer-exact (±127
    // quantized elements, residuals ≤ ±254 after floor-mean centroids,
    // per-subspace dv ≤ 8·508², adc ≤ 2²⁵ ≪ 2⁵³) so the hash gate holds
    // bit-for-bit. Referee: recall@10 against the exact integer-L2
    // top-10 over the FULL corpus (the only corpus×queries scan here —
    // gate referee, not production path). Scale: training is k·dim
    // driver-held model state + two narrow IntDotProduct assignment
    // passes (x23's shape); encode is corpus × m rows against a
    // broadcast ≤128-row codebook; ADC joins cluster occupants to
    // broadcast per-query tables — query cost tracks occupancy, not
    // corpus size.
    QueryDef(
      "x210_ivf_pq_trained",
      (s, d) => {
        def l2(a: String, b: String) =
          s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        val e0 = embeddings(s, d).select("vec_id", "embedding")
        val g = e0.agg(max(expr(
          "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("g"))
        val e = e0.crossJoin(broadcast(g))
          .select(col("vec_id"), expr(
            "CASE WHEN g = 0.0 THEN array_repeat(CAST(0 AS BIGINT), " +
              "size(embedding)) ELSE transform(embedding, x -> " +
              "CAST(round(CAST(x AS DOUBLE) * 127 / g) AS BIGINT)) END").as("qv"))
          .localCheckpoint(true) // training + encode + queries + exact side
        // —— coarse quantizer: x23's driver-held Lloyd, L2 metric ——
        val kIvf = 8
        val r0 = e.agg(min(col("vec_id")), max(col("vec_id"))).head()
        val (mn, mx) = (r0.getLong(0), r0.getLong(1))
        val step = math.max(1L, (mx - mn + 1) / kIvf)
        val c0 = e
          .groupBy(least(floor((col("vec_id") - mn) / step), lit(kIvf - 1L))
            .cast("long").as("cid"))
          .agg(min_by(col("qv"), col("vec_id")).as("cv"))
          .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
          .sortBy(_._1)
        // argmin_c L2(v,c) = argmin_c (|c|² − 2·v·c): one narrow codegen
        // pass scoring all k centroids via the native IntDotProduct —
        // integer scores, tie → smallest cid (struct min ordering)
        def assignC(cents: Array[(Long, Array[Long])]): DataFrame = {
          val scored = array(cents.map { case (cid, arr) =>
            val nc2 = arr.map(x => x * x).sum
            struct(
              (lit(nc2) - lit(2L) *
                graft.functions.IntDotProduct.intDot(col("qv"), typedLit(arr)))
                .as("sc"),
              lit(cid).as("cid"))
          }: _*)
          e.withColumn("cent_id", array_min(scored).getField("cid"))
        }
        // centroid update: floor(mean) per (cid, pos) — k×dim model rows
        def updateC(assigned: DataFrame): Array[(Long, Array[Long])] =
          assigned.select(col("cent_id"), posexplode(col("qv")))
            .groupBy("cent_id", "pos")
            .agg(floor(sum(col("col")).cast(DoubleType) / count(lit(1)))
              .cast("long").as("cq"))
            .collect().groupBy(_.getLong(0)).toArray
            .map { case (cid, rs) =>
              (cid, rs.sortBy(_.getInt(1)).map(_.getLong(2)))
            }
            .sortBy(_._1)
        val c1 = updateC(assignC(c0))
        val a2 = assignC(c1).localCheckpoint(true) // vec_id, qv, cent_id
        // —— residuals vs the trained coarse centroid ——
        import s.implicits._
        val centDf = c1.toSeq.map { case (cid, arr) => (cid, arr.toSeq) }
          .toDF("cent_id", "cv")
        val res = a2.join(broadcast(centDf), Seq("cent_id"))
          .select(col("vec_id"), col("cent_id"),
            expr("zip_with(qv, cv, (x, y) -> x - y)").as("rv"))
          .localCheckpoint(true)
        // —— referee input, pinned EARLY so the exact side can overlap the
        // PQ branch (guide §2.6): qfull needs only a2 ——
        val qfull = a2.filter(col("vec_id") % 53 === 7 && col("vec_id") < 20000)
          .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
          .localCheckpoint(true)
        // —— referee: exact integer-L2 top-10 over the FULL corpus ——
        // |q|²+|n|²−2q·n with the native dot (round 12): norms once per
        // side, the per-pair work is one codegen dot loop. Round 13: the
        // referee reads only the e/qfull checkpoints, so it is INDEPENDENT
        // of the whole PQ branch — its materialization runs concurrently
        // with the codebook training barriers below instead of serially
        // inside the final assembly job (§2.6 overlap).
        val exactDf = e.select(col("vec_id").as("n_id"), col("qv").as("n_qv"))
          .withColumn("n2",
            graft.functions.IntDotProduct.intDot(col("n_qv"), col("n_qv")))
          .join(broadcast(qfull.withColumn("q2",
            graft.functions.IntDotProduct.intDot(col("q_qv"), col("q_qv")))),
            col("n_id") =!= col("q_id"))
          .withColumn("dist", col("q2") + col("n2") - lit(2L) *
            graft.functions.IntDotProduct.intDot(col("q_qv"), col("n_qv")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(col("dist"), col("n_id"))))
          .filter(col("rn") <= 10)
          .select("q_id", "n_id")
        // the exact referee materializes while the PQ branch below trains
        // its codebooks and ranks the ADC candidates
        val (exact, (nCands, atop)) = Concurrently.both(s)(exactDf.localCheckpoint(true), {
          // —— PQ codebooks: x206's %31 sample SEEDS one Lloyd round ——
          // Round 13: the ≤128-row seed/trained books are COLLECTED once
          // (driver-held model state) instead of eagerly checkpointed and
          // re-read — each former checkpoint was a whole materialization job
          // at this (metadata-sized) row count.
          val cb0 = res.filter(col("vec_id") % 31 === 1)
            .withColumn("rk", row_number().over(Window.orderBy("vec_id")))
            .filter(col("rk") <= 16)
            .select((col("rk") - 1).cast(LongType).as("cw"),
              posexplode(expr(
                "transform(sequence(0, 7), t -> slice(rv, t * 8 + 1, 8))"))
                .as(Seq("sb", "cvec")))
          val cb0Rows = collectPqCb(cb0) // ≤ m·kpq = 128 rows — bounded model state
          val sub = res.select(col("vec_id"), col("cent_id"),
              posexplode(expr(
                "transform(sequence(0, 7), t -> slice(rv, t * 8 + 1, 8))"))
                .as(Seq("sb", "sub")))
            // |sub|² once per subvector: the assign step scores every
            // codeword via |s|²+|c|²−2s·c with the native IntDotProduct
            // (round 12; the composable l2 lambda is CodegenFallback —
            // interpreted per (subvector × codeword) row, the measured
            // dominant CPU of this gate). Integer identity: exact, same dv.
            .withColumn("sub2",
              graft.functions.IntDotProduct.intDot(col("sub"), col("sub")))
            .localCheckpoint(true) // read by train-assign AND final encode
          // argmin codeword: the shared inline scorer (pqArgminCode) — the
          // codebook is collected (driver-held model state, the coarse
          // quantizer's own posture) and the packed dv·16+cw argmin unrolls
          // into one codegen projection; no join fan-out, no
          // re-aggregation, and no |sub|⋈|sub| join-back for the centroid
          // update (each sub row already carries its own subvector).
          val cb1f = sub.withColumn("cw", pqArgminRows(cb0Rows))
            .select(col("sb"), col("cw"), posexplode(col("sub")).as(Seq("p", "v")))
            .groupBy("sb", "cw", "p")
            .agg(floor(sum(col("v")).cast(DoubleType) / count(lit(1)))
              .cast("long").as("cv"))
            .groupBy("sb", "cw")
            .agg(expr("transform(array_sort(collect_list(struct(p, cv))), x -> x.cv)")
              .as("cvec"))
          val cb1Rows = collectPqCb(cb1f) // trained codebooks (empty codewords drop)
          // the tiny trained book re-enters the plan as a LOCAL frame (no
          // recompute, no checkpoint) for the query-distance table below
          val cb1 = cb1Rows.toSeq.toDF("sb", "cw", "cvec")
          val codes = sub.withColumn("code", pqArgminRows(cb1Rows))
            .select("vec_id", "cent_id", "sb", "code")
          // —— query side: probe ONE cluster, ADC against trained books ——
          val q = res.filter(col("vec_id") % 53 === 7 && col("vec_id") < 20000)
            .select(col("vec_id").as("q_id"), col("cent_id").as("q_cent"),
              col("rv").as("q_rv"))
            .localCheckpoint(true) // bounded query sample (x69/x124 argument)
          val qd = q.crossJoin(broadcast(cb1))
            .withColumn("qd", expr(l2("slice(q_rv, sb * 8 + 1, 8)", "cvec")))
            .select(col("q_id"), col("q_cent"), col("sb").as("qsb"),
              col("cw").as("qcw"), col("qd"))
          val ap = codes
            .join(broadcast(qd),
              col("cent_id") === col("q_cent") && col("sb") === col("qsb") &&
                col("code") === col("qcw"))
            .filter(col("vec_id") =!= col("q_id"))
            .groupBy(col("q_id"), col("vec_id").as("n_id"))
            .agg(sum(col("qd")).as("adc"))
            .localCheckpoint(true) // n_cands + top-k both read it
          val nCands = ap.groupBy("q_id").agg(count(lit(1)).as("n_cands"))
          val atop = ap
            .withColumn("rn", row_number().over(
              Window.partitionBy("q_id").orderBy(col("adc"), col("n_id"))))
            .filter(col("rn") <= 10)
            .select("q_id", "n_id", "adc")
            .localCheckpoint(true) // overlap + adc_sum both read it
          (nCands, atop)
        })
        val ov = atop.join(broadcast(exact), Seq("q_id", "n_id"))
          .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
        val asum = atop.groupBy("q_id").agg(sum(col("adc")).as("adc_sum"))
        qfull.select("q_id")
          .join(broadcast(nCands), Seq("q_id"), "left")
          .join(broadcast(ov), Seq("q_id"), "left")
          .join(broadcast(asum), Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("n_cands"), lit(0L)).cast(LongType).as("n_cands"),
            coalesce(col("n_overlap"), lit(0L)).cast(LongType).as("n_overlap"),
            expr("CAST(coalesce(n_overlap, 0) * 1000000 div 10 AS BIGINT)")
              .as("recall_ppm"),
            coalesce(col("adc_sum"), lit(0L)).cast(LongType).as("adc_sum"))
          .orderBy("q_id")
      },
      Some("""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS emb
             |  FROM embeddings),
             |g AS (SELECT max(list_max(list_transform(emb, x -> abs(x))))
             |    AS g FROM e0),
             |e AS (SELECT vec_id,
             |    CASE WHEN g.g = 0.0
             |      THEN list_transform(emb, x -> CAST(0 AS BIGINT))
             |      ELSE list_transform(emb, x ->
             |        CAST(round(x * 127 / g.g) AS BIGINT)) END AS qv
             |  FROM e0, g),
             |ee AS (SELECT vec_id, generate_subscripts(qv, 1) AS pos,
             |    unnest(qv) AS q FROM e),
             |b AS (SELECT min(vec_id) AS mn, max(vec_id) AS mx FROM e),
             |p AS (SELECT mn,
             |    greatest(1, CAST(floor((mx - mn + 1) / 8.0) AS BIGINT)) AS step
             |  FROM b),
             |reps AS (SELECT least(CAST(floor((v.vec_id - p.mn) / p.step)
             |      AS BIGINT), 7) AS cid, min(v.vec_id) AS rep
             |  FROM (SELECT DISTINCT vec_id FROM e) v, p GROUP BY 1),
             |c0 AS (SELECT r.cid, ee.pos, ee.q AS cq
             |  FROM ee JOIN reps r ON ee.vec_id = r.rep),
             |d1 AS (SELECT ee.vec_id, c.cid,
             |    sum((ee.q - c.cq) * (ee.q - c.cq)) AS l2
             |  FROM ee JOIN c0 c USING (pos) GROUP BY 1, 2),
             |a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY l2, cid) AS rn
             |  FROM d1) WHERE rn = 1),
             |c1 AS (SELECT a1.cid, ee.pos,
             |    CAST(floor(CAST(sum(ee.q) AS DOUBLE) / count(*)) AS BIGINT) AS cq
             |  FROM ee JOIN a1 USING (vec_id) GROUP BY 1, 2),
             |d2 AS (SELECT ee.vec_id, c.cid,
             |    sum((ee.q - c.cq) * (ee.q - c.cq)) AS l2
             |  FROM ee JOIN c1 c USING (pos) GROUP BY 1, 2),
             |a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY l2, cid) AS rn
             |  FROM d2) WHERE rn = 1),
             |re AS (SELECT ee.vec_id, a2.cid, ee.pos, ee.q - c1.cq AS r
             |  FROM ee JOIN a2 USING (vec_id)
             |  JOIN c1 ON c1.cid = a2.cid AND c1.pos = ee.pos),
             |sube AS (SELECT vec_id, cid, (pos - 1) // 8 AS sb,
             |    (pos - 1) % 8 + 1 AS sp, r FROM re),
             |cb0v AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1
             |    AS cw FROM e WHERE vec_id % 31 = 1 QUALIFY cw <= 15),
             |cb0 AS (SELECT v.cw, s.sb, s.sp, s.r AS cr
             |  FROM cb0v v JOIN sube s USING (vec_id)),
             |pd1 AS (SELECT s.vec_id, s.sb, c.cw,
             |    sum((s.r - c.cr) * (s.r - c.cr)) AS dv
             |  FROM sube s JOIN cb0 c ON c.sb = s.sb AND c.sp = s.sp
             |  GROUP BY 1, 2, 3),
             |pa1 AS (SELECT vec_id, sb, cw FROM (SELECT vec_id, sb, cw,
             |    row_number() OVER (PARTITION BY vec_id, sb ORDER BY dv, cw)
             |      AS rn FROM pd1) WHERE rn = 1),
             |cb1 AS (SELECT p1.sb, p1.cw, s.sp,
             |    CAST(floor(CAST(sum(s.r) AS DOUBLE) / count(*)) AS BIGINT) AS cr
             |  FROM sube s JOIN pa1 p1 ON p1.vec_id = s.vec_id AND p1.sb = s.sb
             |  GROUP BY 1, 2, 3),
             |pd2 AS (SELECT s.vec_id, s.sb, c.cw,
             |    sum((s.r - c.cr) * (s.r - c.cr)) AS dv
             |  FROM sube s JOIN cb1 c ON c.sb = s.sb AND c.sp = s.sp
             |  GROUP BY 1, 2, 3),
             |codes AS (SELECT vec_id, sb, cw AS code FROM (SELECT vec_id, sb,
             |    cw, row_number() OVER (PARTITION BY vec_id, sb
             |      ORDER BY dv, cw) AS rn FROM pd2) WHERE rn = 1),
             |q AS (SELECT vec_id AS q_id, cid AS q_cent FROM a2
             |  WHERE vec_id % 53 = 7 AND vec_id < 20000),
             |qre AS (SELECT s.vec_id AS q_id, s.sb, s.sp, s.r
             |  FROM sube s JOIN q ON q.q_id = s.vec_id),
             |qd AS (SELECT r.q_id, c.sb, c.cw,
             |    sum((r.r - c.cr) * (r.r - c.cr)) AS qd
             |  FROM qre r JOIN cb1 c ON c.sb = r.sb AND c.sp = r.sp
             |  GROUP BY 1, 2, 3),
             |ap AS (SELECT q.q_id, a2.vec_id AS n_id,
             |    CAST(sum(qd.qd) AS BIGINT) AS adc
             |  FROM q JOIN a2 ON a2.cid = q.q_cent AND a2.vec_id <> q.q_id
             |  JOIN codes ON codes.vec_id = a2.vec_id
             |  JOIN qd ON qd.q_id = q.q_id AND qd.sb = codes.sb
             |    AND qd.cw = codes.code
             |  GROUP BY 1, 2),
             |nc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cands
             |  FROM ap GROUP BY 1),
             |atop AS (SELECT q_id, n_id, adc FROM (
             |    SELECT q_id, n_id, adc, row_number() OVER (
             |      PARTITION BY q_id ORDER BY adc, n_id) AS rn FROM ap)
             |  WHERE rn <= 10),
             |ex AS (SELECT q_id, n_id FROM (
             |    SELECT q.q_id, e.vec_id AS n_id, row_number() OVER (
             |      PARTITION BY q.q_id ORDER BY
             |        list_sum(list_transform(range(1, 65), i ->
             |          (qe.qv[CAST(i AS INT)] - e.qv[CAST(i AS INT)]) *
             |          (qe.qv[CAST(i AS INT)] - e.qv[CAST(i AS INT)]))),
             |        e.vec_id) AS rn
             |    FROM q JOIN e qe ON qe.vec_id = q.q_id
             |    JOIN e ON e.vec_id <> q.q_id)
             |  WHERE rn <= 10),
             |ov AS (SELECT atop.q_id, CAST(count(*) AS BIGINT) AS n_overlap
             |  FROM atop JOIN ex USING (q_id, n_id) GROUP BY 1),
             |asum AS (SELECT q_id, CAST(sum(adc) AS BIGINT) AS adc_sum
             |  FROM atop GROUP BY 1)
             |SELECT q.q_id, coalesce(nc.n_cands, 0) AS n_cands,
             |  coalesce(ov.n_overlap, 0) AS n_overlap,
             |  CAST(coalesce(ov.n_overlap, 0) * 1000000 // 10 AS BIGINT)
             |    AS recall_ppm,
             |  coalesce(asum.adc_sum, 0) AS adc_sum
             |FROM q LEFT JOIN nc ON q.q_id = nc.q_id
             |LEFT JOIN ov ON q.q_id = ov.q_id
             |LEFT JOIN asum ON q.q_id = asum.q_id
             |ORDER BY q.q_id""".stripMargin)),

    // PARQUET PAGE-INDEX PRUNING (x211) — the layer BETWEEN x189's
    // row-group stats pruning and x194/x204's page decode: the
    // parquet-format ColumnIndex (per-page null_pages/min/max/
    // boundary_order) and OffsetIndex (per-page offset/size/
    // first_row_index) structures that let a reader skip PAGES inside a
    // kept row group — the next real lever a 100 TB scan pulls. Both
    // structures are hand-parsed by seek in ops/ParquetFooter
    // .int64PageIndex (footer + two kilobyte-sized index blobs per
    // chunk; data pages untouched). The store is written IN the gate:
    // orders keys SORTED into ONE part file with a 100-row page limit
    // and a 32 KiB block size (≥2 row groups, ≥8 pages — write-and-
    // checked, the dropped-option-race lesson), so every page's global
    // row range maps to the key's RANK (file position i holds the i-th
    // smallest key — the identity the truth join runs on). For a range
    // predicate the gate proves the page-skip decision sound BOTH ways
    // (x189's shape): kept pages reproduce the full predicate count
    // (nothing lost — kept_match, an arithmetic oracle column), skipped
    // pages contain ZERO matches (skip_clean), and the index structures
    // themselves are validated against recomputed truth: per-page row
    // counts from first_row_index deltas match the data (rows_ok),
    // ColumnIndex bounds equal the pages' true min/max (minmax_ok),
    // OffsetIndex byte ranges are monotone non-overlapping (offsets_ok),
    // and boundary_order reads ASCENDING over the sorted store
    // (boundary_ok). The rank→page lookup is a bucket equi-join (bucket
    // width = the page row limit, each page spans ≤ 2 buckets) against
    // the broadcast page table — never a row×page nested loop. Scale:
    // the decision layer reads KB per chunk; the truth join is one
    // rank window + an equi-join, gate-sized here, and the page table
    // is bounded by store size / page size (model-state class).
    QueryDef(
      "x211_page_index_pruning",
      (s, d) => {
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_x211_" +
          s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
        val mn = orders(s, d).agg(min("o_orderkey").cast(LongType))
          .first().getLong(0)
        val bound = mn + 8000L
        val lo = mn + 340L
        val hi = mn + 520L
        val src = orders(s, d).filter(col("o_orderkey") <= bound)
          .select(col("o_orderkey").cast(LongType).as("k"),
            col("o_custkey").cast(LongType).as("c"),
            col("o_totalprice").cast("double").as("p"))
        try {
          def w(): Unit = src.coalesce(1).sortWithinPartitions("k")
            .write.mode("overwrite")
            .option("parquet.page.row.count.limit", "100")
            .option("parquet.block.size", "16384")
            .parquet(store)
          w()
          def storeOk: Boolean = {
            val r = graft.ops.ParquetFooter.int64PageIndex(s, store, "k")
              .agg(min(when(col("ok"), 1L).otherwise(0L)),
                countDistinct(col("grp")), count(lit(1))).first()
            !r.isNullAt(0) && r.getLong(0) == 1L &&
              r.getLong(1) >= 2L && r.getLong(2) >= 8L
          }
          var attempts = 0
          while (attempts < 8 && !storeOk) { w(); attempts += 1 }
          val pi = graft.ops.ParquetFooter.int64PageIndex(s, store, "k")
            .localCheckpoint(eager = true)
          val pg = pi.filter(col("ok"))
            .withColumn("pstart", col("grp_row_start") + col("first_row"))
          // global row index == rank of k: ONE part file, written sorted
          val rows = s.read.parquet(store).select(col("k"))
            .withColumn("rn",
              row_number().over(Window.orderBy("k")).cast(LongType) - 1L)
            .withColumn("bk", expr("CAST(rn div 100 AS BIGINT)"))
            .localCheckpoint(eager = true) // truth join + totals read it
          val pgb = pg.select(col("grp"), col("page"), col("pstart"),
              col("page_rows"))
            .withColumn("bk", explode(expr(
              "sequence(CAST(pstart div 100 AS BIGINT), " +
                "CAST((pstart + page_rows - 1) div 100 AS BIGINT))")))
          val truth = rows.join(broadcast(pgb), Seq("bk"))
            .filter(col("rn") >= col("pstart") &&
              col("rn") < col("pstart") + col("page_rows"))
            .groupBy("grp", "page")
            .agg(count(lit(1)).as("t_rows"), min("k").as("t_min"),
              max("k").as("t_max"),
              sum(when(col("k").between(lo, hi), 1L).otherwise(0L))
                .as("t_match"))
          val w2 = Window.partitionBy("grp").orderBy("page")
          val joined = pg.join(truth, Seq("grp", "page"), "left")
            .withColumn("keep",
              !col("null_page") && col("min_v") <= hi && col("max_v") >= lo)
            .withColumn("prev_end",
              lag(col("pg_offset") + col("pg_size"), 1).over(w2))
          val tot = rows.agg(count(lit(1)).as("n_rows"),
            sum(when(col("k").between(lo, hi), 1L).otherwise(0L)).as("n_match"))
          joined.agg(
            sum(coalesce(col("t_rows"), lit(0L))).as("t_rows_sum"),
            min(when(col("t_rows") === col("page_rows"), 1L).otherwise(0L))
              .as("rows_okm"),
            min(when(col("null_page") ||
              (col("t_min") === col("min_v") && col("t_max") === col("max_v")),
              1L).otherwise(0L)).as("mm_okm"),
            min(when(col("prev_end").isNull ||
              col("prev_end") <= col("pg_offset"), 1L).otherwise(0L))
              .as("off_okm"),
            min(when(col("boundary_order") === 1, 1L).otherwise(0L))
              .as("bo_okm"),
            sum(when(col("keep"), coalesce(col("t_match"), lit(0L)))
              .otherwise(0L)).as("kept_match"),
            sum(when(!col("keep"), coalesce(col("t_match"), lit(0L)))
              .otherwise(0L)).as("skipped_match"),
            sum(when(!col("keep"), 1L).otherwise(0L)).as("n_skipped"),
            countDistinct(col("grp")).as("n_grps"),
            count(lit(1)).as("n_pages"))
            .crossJoin(broadcast(tot))
            .select(
              col("n_rows").cast(LongType).as("n_rows"),
              col("n_match").cast(LongType).as("n_match"),
              col("kept_match").cast(LongType).as("kept_match"),
              (col("skipped_match") === 0L).as("skip_clean"),
              (col("rows_okm") === 1L && col("t_rows_sum") === col("n_rows"))
                .as("rows_ok"),
              (col("mm_okm") === 1L).as("minmax_ok"),
              (col("off_okm") === 1L).as("offsets_ok"),
              (col("bo_okm") === 1L).as("boundary_ok"),
              (col("n_skipped") > 0L).as("pruned_some"),
              (col("n_grps") >= 2L && col("n_pages") >= 8L).as("multi_page"))
            // materialize before the finally deletes the store
            .localCheckpoint(eager = true)
        } finally {
          val p = new org.apache.hadoop.fs.Path(store)
          try p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          catch { case _: Exception => () }
        }
      },
      Some("""WITH b AS (SELECT min(o_orderkey) AS mn FROM orders),
             |src AS (SELECT CAST(o_orderkey AS BIGINT) AS k, b.mn AS mn
             |  FROM orders, b WHERE o_orderkey <= b.mn + 8000)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN k BETWEEN mn + 340 AND mn + 520
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
             |  CAST(sum(CASE WHEN k BETWEEN mn + 340 AND mn + 520
             |    THEN 1 ELSE 0 END) AS BIGINT) AS kept_match,
             |  TRUE AS skip_clean, TRUE AS rows_ok, TRUE AS minmax_ok,
             |  TRUE AS offsets_ok, TRUE AS boundary_ok, TRUE AS pruned_some,
             |  TRUE AS multi_page
             |FROM src""".stripMargin)),

    // MAPSTATE × LISTSTATE × TTL (x212) — the remaining arbitrary-state
    // primitives (every transformWithState gate so far — x154/x199/x205 —
    // holds ValueState only): a per-key MapState SUBMAP of per-category
    // rollups updated by POINT lookups (the idiomatic 100 TB enrichment
    // shape — per-user per-category state without serializing the whole
    // map per update), an append-only ListState sequence (one element
    // per active batch; length/sum/HEAD pin append order and content),
    // and a 1 ms-TTL ValueState proving store-enforced expiry next to
    // map/list column families on the SAME RocksDB store (x205's
    // provider discipline: RocksDB set explicitly, use asserted from
    // state metrics in-band). Each active batch emits the FULL map
    // (iteration across the column family — a quiet category re-emits
    // its standing rollup, deterministic duplicates the oracle
    // reproduces with a b'≤b rollup join) plus one list-face row. See
    // streaming/MapListStates.scala for the per-row cost argument.
    QueryDef(
      "x212_stream_map_list_state",
      (s, d) => {
        val staged = events(s, d)
          .select(col("user_id"), col("event_type"),
            floor(col("value") * 100).cast(LongType).as("cents"),
            eventBatch.as("b"))
        // changelog checkpointing left on the default here (round 12):
        // neutral for this gate's state size — see x199's note; x213 is
        // where the knob pays.
        val sawRocks = new java.util.concurrent.atomic.AtomicBoolean(false)
        val out = graft.streaming.StreamGate.replayStaged(
          s, staged, "x212_events", "b", 4, "append",
          progress = p =>
            if (graft.streaming.StreamGate.usesRocksDb(p)) sawRocks.set(true),
          availableNow = false,
          conf = Map(graft.streaming.StreamGate.RocksDb)) { stream =>
          graft.streaming.MapListStates.run(
            stream.as[graft.streaming.MapListStates.EventIn](
              org.apache.spark.sql.Encoders.product)).toDF()
        }
        out.select(col("user_id"), col("kind"), col("cat"),
            col("a"), col("b"), col("c"), col("d"),
            lit(sawRocks.get()).as("rocks_metric"))
          .orderBy("user_id", "kind", "cat", "a", "b", "c", "d")
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |    CAST(floor("value" * 100) AS BIGINT) AS cents,
             |    LEAST(GREATEST(date_diff('day', DATE '2024-01-01',
             |      CAST(ts AS DATE)) // 8, 0), 3) AS b
             |  FROM events),
             |gq AS (SELECT user_id, b AS bb, CAST(count(*) AS BIGINT) AS n
             |  FROM e GROUP BY 1, 2),
             |gc AS (SELECT user_id, event_type, b AS bb,
             |    CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS sc
             |  FROM e GROUP BY 1, 2, 3),
             |catr AS (SELECT q.user_id, 'cat' AS kind, g.event_type AS cat,
             |    CAST(sum(g.n) AS BIGINT) AS a, CAST(sum(g.sc) AS BIGINT) AS b,
             |    CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS d
             |  FROM gq q JOIN gc g ON g.user_id = q.user_id AND g.bb <= q.bb
             |  GROUP BY q.user_id, q.bb, g.event_type),
             |listr AS (SELECT q.user_id, 'list' AS kind, '' AS cat,
             |    CAST(count(*) AS BIGINT) AS a, CAST(sum(p.n) AS BIGINT) AS b,
             |    CAST(min_by(p.n, p.bb) AS BIGINT) AS c,
             |    CAST(q.n AS BIGINT) AS d
             |  FROM gq q JOIN gq p ON p.user_id = q.user_id AND p.bb <= q.bb
             |  GROUP BY q.user_id, q.bb, q.n),
             |one AS (SELECT * FROM catr UNION ALL SELECT * FROM listr)
             |SELECT user_id, kind, cat, a, b, c, d, TRUE AS rocks_metric
             |FROM one ORDER BY user_id, kind, cat, a, b, c, d""".stripMargin)),

    // STREAM-STREAM JOIN × STATE PROVIDER (x213) — the largest state a
    // production stream holds is JOIN state, and until now the join
    // gates (x152/x155/x207) ran on the default HDFS-heap provider only
    // (x195/x205/x212 assert RocksDB for aggregation and
    // transformWithState). This gate runs x152's inner range join —
    // LITERALLY the same transform, via the shared streamInnerJoin
    // helper — once per provider and demands hash-identical pair sets:
    // the provider is a pure storage backend, so ANY row difference is
    // a state-store bug, and the in-band prov_ok column asserts from
    // state metrics that each leg really ran where it claims (rocksdb
    // metrics seen ⟺ rocksdb leg). The oracle is x152's batch join
    // crossed with the two mode labels. Scale: same bounded join state
    // as x152 (≈ watermark delay × arrival rate per side), paid twice
    // by design — the matrix is the gate.
    QueryDef(
      "x213_stream_join_provider_matrix",
      (s, d) => {
        val staged = events(s, d)
          .filter(col("event_type").isin("signup", "purchase"))
          .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
            eventBatch.as("b"))
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        def runOn(rocks: Boolean, label: String) = {
          // each leg's provider is set on its replay's own session: Verify
          // drives 4 catalog queries concurrently in one session, so a
          // session-global provider mutation here would race the
          // neighbors' streams (and theirs would race this leg — observed
          // at sf0.1).
          // changelog checkpointing: commits append a changelog instead
          // of uploading full SST snapshots per batch per store (round
          // 12, −1.5 s measured) — a pure persistence-cost knob; this
          // gate's claim is PROVIDER-equality (the checkpoint-format
          // matrix is x205's gate), and the emitted pairs are
          // hash-identical either way
          val conf =
            if (rocks) Map(graft.streaming.StreamGate.RocksDb,
              "spark.sql.streaming.stateStore.rocksdb." +
                "changelogCheckpointing.enabled" -> "true")
            else Map(provKey -> ("org.apache.spark.sql.execution.streaming." +
              "state.HDFSBackedStateStoreProvider"))
          val sawRocks = new java.util.concurrent.atomic.AtomicBoolean(false)
          val out = graft.streaming.StreamGate.replayStaged(
            s, staged, s"x213_events_$label", "b", 4, "append",
            progress = p =>
              if (graft.streaming.StreamGate.usesRocksDb(p)) sawRocks.set(true),
            conf = conf)(streamInnerJoin)
          out.select(lit(label).as("mode"), col("user_id"), col("s_id"),
            col("p_id"), col("s_us"), col("p_us"),
            lit(sawRocks.get() == rocks).as("prov_ok"))
        }
        // The two provider legs are INDEPENDENT replays (own session,
        // own staging dir, own state stores): run them concurrently; a
        // failed leg stops the other's stream. Each leg's emissions are
        // unchanged; the final full-tiebreak sort fixes the union order.
        val (heap, rocks) = Concurrently.both(s)(
          runOn(rocks = false, "heap"), runOn(rocks = true, "rocksdb"))
        heap.unionByName(rocks)
          .orderBy("mode", "user_id", "s_id", "p_id")
      },
      Some("""WITH s AS (SELECT event_id AS s_id, user_id, ts AS s_ts
             |  FROM events WHERE event_type = 'signup'),
             |p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
             |  FROM events WHERE event_type = 'purchase'),
             |j AS (SELECT s.user_id, s.s_id, p.p_id,
             |    epoch_us(s.s_ts) AS s_us, epoch_us(p.p_ts) AS p_us
             |  FROM s JOIN p ON p.user_id = s.user_id
             |    AND p.p_ts > s.s_ts AND p.p_ts <= s.s_ts + INTERVAL 4 HOUR),
             |pv(mode, prov_ok) AS (VALUES ('heap', TRUE), ('rocksdb', TRUE))
             |SELECT pv.mode, j.user_id, j.s_id, j.p_id, j.s_us, j.p_us,
             |  pv.prov_ok
             |FROM j, pv ORDER BY mode, user_id, s_id, p_id""".stripMargin)),

    // CHARSET DETECT + REPAIR (x214) — the byte-level pass between the
    // container walks (WARC/TAR payloads are BYTES) and every text stage
    // (x208 HTML extraction, x190 NFC, the tokenizer family): real crawl
    // bytes arrive as windows-1252/latin-1 mojibake, and a lenient
    // decoder silently U+FFFDs them, splitting dedup keys.
    // functions/CharsetRepair is a native codegen expression pair:
    // STRICT RFC 3629 validation (overlongs/surrogates/>U+10FFFF/
    // truncations all rejected — the checks lenient decoders skip;
    // valid input passes through allocation-free) and a deterministic
    // cp1252 transcode for the rest (published CP1252.TXT table, C1
    // passthrough for the five undefined positions, latin-1 identity
    // for 0xA0–0xFF — one rule repairs both encodings). The DOUBLE-
    // ENCODED confusable ("Ã©" carried as C3 83 C2 A9 — valid UTF-8,
    // wrong text) is FLAGGED by the pair regexp, never rewritten. Four
    // paired constructions: pure ASCII, true UTF-8 (é = C3 A9),
    // windows-1252 bytes (E9 + curly quotes 93/94 + ellipsis 85 — the
    // C1 page where latin-1 and cp1252 differ), and double-encoded
    // mojibake; the oracle builds every expected REPAIRED string
    // directly by construction (chr arithmetic — no charset machinery
    // trusted on the oracle side). Scale: narrow per-row codegen into a
    // 10-group partial agg — zero shuffle before the rollup.
    QueryDef(
      "x214_charset_repair",
      (s, d) => {
        val base = concat(lit("w"), col("doc_id").cast("string"), lit(" "))
        val cls = (col("doc_id") % 4).cast("int")
        val quotedHex = "71756F746564" // "quoted"
        val raw =
          when(cls === 0, encode(concat(base, lit("ascii plain")), "UTF-8"))
            .when(cls === 1, encode(concat(base, lit("caf\u00e9 ok")), "UTF-8"))
            .when(cls === 2, concat(encode(concat(base, lit("caf")), "UTF-8"),
              unhex(lit("E92093" + quotedHex + "9485"))))
            .otherwise(concat(encode(concat(base, lit("caf")), "UTF-8"),
              unhex(lit("C383C2A920616E64")))) // "Ã© and" double-encoded
        documents(s, d).filter(col("doc_id") < 3000)
          .select(col("doc_id"), raw.as("raw"))
          .withColumn("was_utf8",
            graft.functions.CharsetRepair.isUtf8(col("raw")))
          .withColumn("txt", graft.functions.CharsetRepair.repair(col("raw")))
          .withColumn("moji", regexp_count(col("txt"),
            lit(graft.functions.CharsetRepair.mojibakePairPattern))
            .cast(LongType))
          .groupBy((col("doc_id") % 10).cast(LongType).as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("was_utf8"), 1L).otherwise(0L)).as("n_utf8"),
            sum(when(!col("was_utf8"), 1L).otherwise(0L)).as("n_repaired"),
            sum(col("moji")).as("moji_pairs"),
            sum(length(col("txt")).cast(LongType)).as("chars_after"),
            sum(expr("CAST(conv(substring(md5(txt), 1, 8), 16, 10) AS BIGINT)"))
              .as("cksum"))
          .orderBy("grp")
      },
      Some("""WITH src AS (SELECT doc_id,
             |    CASE CAST(doc_id % 4 AS INT)
             |      WHEN 0 THEN 'w' || doc_id || ' ascii plain'
             |      WHEN 1 THEN 'w' || doc_id || ' caf' || chr(233) || ' ok'
             |      WHEN 2 THEN 'w' || doc_id || ' caf' || chr(233) || ' ' ||
             |        chr(8220) || 'quoted' || chr(8221) || chr(8230)
             |      ELSE 'w' || doc_id || ' caf' || chr(195) || chr(169) ||
             |        ' and' END AS txt,
             |    CASE WHEN doc_id % 4 = 2 THEN FALSE ELSE TRUE END AS wu,
             |    CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS moji
             |  FROM documents WHERE doc_id < 3000),
             |hx8 AS (SELECT doc_id, txt, wu, moji,
             |    substr(md5(txt), 1, 8) AS hx FROM src)
             |SELECT CAST(doc_id % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN wu THEN 1 ELSE 0 END) AS BIGINT) AS n_utf8,
             |  CAST(sum(CASE WHEN wu THEN 0 ELSE 1 END) AS BIGINT)
             |    AS n_repaired,
             |  CAST(sum(moji) AS BIGINT) AS moji_pairs,
             |  CAST(sum(length(txt)) AS BIGINT) AS chars_after,
             |  CAST(sum((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456
             |    + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216
             |    + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576
             |    + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536
             |    + (instr('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096
             |    + (instr('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256
             |    + (instr('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
             |    + (instr('0123456789abcdef', substr(hx, 8, 1)) - 1)) AS BIGINT)
             |    AS cksum
             |FROM hx8 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // END-TO-END CRAWL PIPELINE (x215) — the COMPOSITION gate: x121
    // stops at the WARC record walk; this one drives the whole library
    // path a crawl corpus actually takes, with every stage the real ops
    // API and NO seam in between: gzip members (ops/GzipExtract, stored-
    // deflate shards built byte-arithmetically in the gate) → WARC walk
    // (ops/WarcIndex; payloads recovered byte-exactly via the latin-1
    // round trip) → charset repair (functions/CharsetRepair — one third
    // of the records are RAW windows-1252 bytes that a lenient decoder
    // would U+FFFD) → HTML text extraction (ops/HtmlText — comments,
    // script, tags, entities) → NFC (functions/NfcNormalize — another
    // third carries decomposed e+U+0301 that must collide with the
    // precomposed é) → EXACT dedup (x01 semantics: group by normalized
    // text; each of the 12 logical documents arrives as 4 byte-DIFFERENT
    // copies — distinct comments per copy — that must collapse) →
    // maximal-repeat spans over the survivors (ops/MaximalRepeats, k=25;
    // two survivors share a 30-token filler run planted by
    // construction). The ORACLE never touches a container or a charset:
    // it predicts every survivor's normalized text, dedup counts, and
    // span geometry purely arithmetically from the construction — the
    // decoder family's paired-construction discipline applied to the
    // whole pipeline. Scale: every stage is a narrow flatMap/codegen
    // pass; the only shuffles are the dedup groupBy and the span
    // machinery's hash-bucketed exchanges (x197's shape).
    QueryDef(
      "x215_crawl_pipeline",
      (s, d) => {
        def payloadHex(i: Int): String = {
          val rid = s"(doc_id * 2 + $i)"
          val tk = s"(($rid) % 12)"
          val cc = s"(($tk) % 3)"
          val filler = s"(CASE WHEN $tk >= 10 THEN concat(' ', " +
            s"array_join(transform(sequence(0, 29), " +
            s"t -> concat('F', CAST(t AS STRING))), ' '), " +
            s"' end', CAST($tk AS STRING)) ELSE '' END)"
          val bodyHex = s"(CASE CAST($cc AS INT) " +
            s"WHEN 0 THEN hex(CAST(concat('w', CAST($tk AS STRING), " +
            s"' plain &amp; body', $filler) AS BINARY)) " +
            // caf + E9(é) + 20 + 93(“) + 71(q) + 94(”) — cp1252 bytes
            s"WHEN 1 THEN concat(hex(CAST(concat('w', CAST($tk AS STRING), " +
            s"' caf') AS BINARY)), 'E920937194', " +
            s"hex(CAST($filler AS BINARY))) " +
            // cafe + CC81 (combining acute): valid UTF-8, decomposed
            s"ELSE concat(hex(CAST(concat('w', CAST($tk AS STRING), " +
            s"' cafe') AS BINARY)), 'CC81', hex(CAST($filler AS BINARY))) END)"
          s"concat(hex(CAST(concat('<html><!--r', CAST($rid AS STRING), " +
            s"'--><head><title>T', CAST($tk AS STRING), " +
            s"'</title></head><body><p>') AS BINARY)), $bodyHex, " +
            s"hex(CAST('</p><script>var x=1;</script></body></html>' AS BINARY)))"
        }
        var b = documents(s, d).filter(col("doc_id") < 24)
          .withColumn("crlf", expr("concat(chr(13), chr(10))"))
        for (i <- 0 to 1) {
          val rid = s"(doc_id * 2 + $i)"
          b = b.withColumn(s"ph_$i", expr(payloadHex(i)))
            .withColumn(s"wh_$i", expr(
              s"concat(hex(CAST(concat('WARC/1.0', crlf, " +
                s"'WARC-Type: response', crlf, " +
                s"'WARC-Target-URI: https://cc.ex/p', CAST($rid AS STRING), crlf, " +
                s"'Content-Length: ', CAST(length(unhex(ph_$i)) AS STRING), " +
                s"crlf, crlf) AS BINARY)), ph_$i, " +
                s"hex(CAST(concat(crlf, crlf) AS BINARY)))"))
            .withColumn(s"gz_$i", expr(
              s"concat('1F8B0800', '00000000', '0000', '01', " +
                s"${le16S(s"length(unhex(wh_$i))")}, " +
                s"${le16S(s"65535 - length(unhex(wh_$i))")}, wh_$i, " +
                s"${le32S(s"crc32(unhex(wh_$i)) % 4294967296")}, " +
                s"${le32S(s"length(unhex(wh_$i))")})"))
        }
        val blobs = b.select(col("doc_id").as("media_id"),
          unhex(expr("concat(gz_0, gz_1)")).as("media"))
        val members = graft.ops.GzipExtract.extract(blobs)
          // latin-1 round trip: encode (NOT a binary cast, which would
          // re-encode high bytes as UTF-8 and corrupt the cp1252 class)
          .select((col("shard_id") * 2 + col("member_idx")).as("media_id"),
            encode(col("content"), "ISO-8859-1").as("media"))
        val recs = graft.ops.WarcIndex.index(members).toDF()
          .select(col("shard_id").as("rid"), col("payload"))
        val repaired = recs
          .withColumn("raw", encode(col("payload"), "ISO-8859-1"))
          .withColumn("was_utf8", graft.functions.CharsetRepair.isUtf8(col("raw")))
          .withColumn("fixed", graft.functions.CharsetRepair.repair(col("raw")))
          .withColumn("txt", graft.ops.HtmlText.extract(col("fixed")))
          .withColumn("norm", graft.functions.NfcNormalize.nfc(col("txt")))
          .withColumn("nfc_changed", col("norm") =!= col("txt"))
        val groups = repaired.groupBy(col("norm"))
          .agg(min(col("rid")).as("survivor"),
            count(lit(1)).as("n_copies"),
            sum(when(col("was_utf8"), 1L).otherwise(0L)).as("n_utf8"),
            sum(when(col("nfc_changed"), 1L).otherwise(0L)).as("n_nfc_changed"))
          .localCheckpoint(true) // output face + span input both read it
        val spans = graft.ops.MaximalRepeats.spans(
            groups.select(col("survivor").as("doc_id"),
              lit("crawl").as("source"), col("norm").as("text")), 25)
          .groupBy(col("doc_id").as("survivor"))
          .agg(count(lit(1)).as("n_spans"), sum("len").as("span_tokens"),
            min("start").as("span_start"))
        groups.join(spans, Seq("survivor"), "left")
          .select(col("survivor"), col("n_copies"), col("n_utf8"),
            col("n_nfc_changed"),
            length(col("norm")).cast(LongType).as("n_chars"),
            expr("CAST(conv(substring(md5(norm), 1, 8), 16, 10) AS BIGINT)")
              .as("cksum"),
            coalesce(col("n_spans"), lit(0L)).cast(LongType).as("n_spans"),
            coalesce(col("span_tokens"), lit(0L)).cast(LongType)
              .as("span_tokens"),
            coalesce(col("span_start"), lit(-1L)).cast(LongType)
              .as("span_start"))
          .orderBy("survivor")
      },
      Some("""WITH tks AS (SELECT unnest(range(0, 12)) AS tk),
             |fil AS (SELECT tk,
             |    CASE WHEN tk >= 10 THEN ' ' || list_aggregate(
             |      list_transform(range(0, 30), t -> 'F' || CAST(t AS VARCHAR)),
             |      'string_agg', ' ') || ' end' || CAST(tk AS VARCHAR)
             |    ELSE '' END AS filler
             |  FROM tks),
             |nrm AS (SELECT tk,
             |    'T' || tk || ' ' || CASE CAST(tk % 3 AS INT)
             |      WHEN 0 THEN 'w' || tk || ' plain & body'
             |      WHEN 1 THEN 'w' || tk || ' caf' || chr(233) || ' ' ||
             |        chr(8220) || 'q' || chr(8221)
             |      ELSE 'w' || tk || ' caf' || chr(233) END || filler AS norm
             |  FROM fil),
             |hx8 AS (SELECT tk, norm, substr(md5(norm), 1, 8) AS hx FROM nrm)
             |SELECT CAST(tk AS BIGINT) AS survivor,
             |  CAST(4 AS BIGINT) AS n_copies,
             |  CAST(CASE WHEN tk % 3 = 1 THEN 0 ELSE 4 END AS BIGINT) AS n_utf8,
             |  CAST(CASE WHEN tk % 3 = 2 THEN 4 ELSE 0 END AS BIGINT)
             |    AS n_nfc_changed,
             |  CAST(length(norm) AS BIGINT) AS n_chars,
             |  CAST((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 268435456
             |    + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16777216
             |    + (instr('0123456789abcdef', substr(hx, 3, 1)) - 1) * 1048576
             |    + (instr('0123456789abcdef', substr(hx, 4, 1)) - 1) * 65536
             |    + (instr('0123456789abcdef', substr(hx, 5, 1)) - 1) * 4096
             |    + (instr('0123456789abcdef', substr(hx, 6, 1)) - 1) * 256
             |    + (instr('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
             |    + (instr('0123456789abcdef', substr(hx, 8, 1)) - 1) AS BIGINT)
             |    AS cksum,
             |  CAST(CASE WHEN tk >= 10 THEN 1 ELSE 0 END AS BIGINT) AS n_spans,
             |  CAST(CASE WHEN tk >= 10 THEN 30 ELSE 0 END AS BIGINT)
             |    AS span_tokens,
             |  CAST(CASE WHEN tk = 10 THEN 4 WHEN tk = 11 THEN 3
             |    ELSE -1 END AS BIGINT) AS span_start
             |FROM hx8 ORDER BY survivor""".stripMargin)),

    // GLOBAL DENSE ROW NUMBERING (x216) — the distributed primitive every
    // training-order assignment needs (x70 shuffles by hash; THIS is the
    // "give every row its exact position in a total order" contract):
    // `row_number() OVER (ORDER BY ...)` with no PARTITION BY moves the
    // whole dataset through ONE WindowExec partition — the canonical
    // 100 TB scale-killer Spark itself warns about. ops/GlobalIndex is
    // the two-pass offset shape (RDD zipWithIndex's contract, kept
    // declarative so both passes stay codegen'd): monotone fixed-width
    // value bucketing from a 1-row (min,max) aggregate — deterministic,
    // NO RangePartitioner sampling, so re-evaluation can never re-assign
    // a row and nothing is cached — then bounded per-bucket counts →
    // exclusive-prefix offsets (window over ≤ nBuckets rows, never data)
    // broadcast back onto a PARTITIONED rank. Corpus: documents ∪ clone
    // with ids 2d / 2d+1, sorted by (n_chars, doc_id) — n_chars collides
    // heavily (every clone pair ties), so the unique tie column does real
    // work. The idx%10 rollup interleaves every stripe of the order into
    // every output row: one row misplaced anywhere moves some group's
    // count/min/max/sum/cksum. The oracle's row_number is definitionally
    // the dense total order, so the hash match proves the two-pass
    // assignment IS that order. Scale: two passes, one hash-by-bucket
    // exchange; skew = range-partitioning's usual failure mode (raise
    // nBuckets — the bucket table stays tiny).
    QueryDef(
      "x216_global_index",
      (s, d) => {
        val doc = documents(s, d).select(col("doc_id"), col("n_chars"))
        val corpus = doc.select((col("doc_id") * 2).as("doc_id"),
            col("n_chars"))
          .unionByName(doc.select((col("doc_id") * 2 + 1).as("doc_id"),
            col("n_chars")))
        graft.ops.GlobalIndex
          .assign(corpus, col("n_chars"), col("doc_id"), 32, "idx")
          .groupBy((col("idx") % 10).as("grp"))
          .agg(count(lit(1)).as("n"),
            min("idx").as("min_idx"), max("idx").as("max_idx"),
            sum("idx").as("sum_idx"),
            sum((col("idx") + 1L) * (col("doc_id") % 9973L)).as("cksum"))
          .orderBy("grp")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id * 2 AS doc_id, n_chars FROM documents
             |  UNION ALL
             |  SELECT doc_id * 2 + 1 AS doc_id, n_chars FROM documents),
             |ix AS (SELECT doc_id,
             |    row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS idx
             |  FROM corpus)
             |SELECT CAST(idx % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(idx) AS BIGINT) AS min_idx,
             |  CAST(max(idx) AS BIGINT) AS max_idx,
             |  CAST(sum(idx) AS BIGINT) AS sum_idx,
             |  CAST(sum((idx + 1) * (doc_id % 9973)) AS BIGINT) AS cksum
             |FROM ix GROUP BY 1 ORDER BY 1""".stripMargin)),

    // COPY-ON-WRITE MERGE (x217) — the lakehouse upsert x184/x185 stop
    // short of: x184 replays a txlog someone else wrote; THIS gate runs
    // the whole MERGE INTO lifecycle against real files it wrote itself.
    // Base: orders keys bucketed into 8 range files (fb = (k−min) div
    // 1000), written partitionBy(fb); the v0 log (one JSON add action per
    // file, stats kmin/kmax/nrows READ BACK from disk, x184's wire shape)
    // is written as text and re-PARSED with from_json — the metadata
    // round-trips through real bytes. Changes: updates (+1.00 on keys in
    // buckets 1 and 3 with (k−min)%7=0) and inserts (bucket-0 rows
    // re-keyed +9000 → a NEW file range). ops/CowMerge.touchedFiles
    // plans the rewrite from STATS ALONE (interval-bucketed metadata
    // join, never a nested loop); only touched partitions are read
    // (static partition pruning from the bounded collected file list),
    // updated matched-side rows are rewritten with inserts into v1, and
    // the v1 log carries remove(touched) + add(new). The final state is
    // then REPLAYED from the two logs (x184's last-writer-wins window)
    // and read back: carried v0 files + v1 files. In-band accounting
    // pins copy-on-write: n_carried files are never read in the rewrite
    // pass — rows_carried comes from log metadata only — and
    // rows_rewritten equals touched rows + inserts. The oracle predicts
    // the merged table and every accounting scalar arithmetically from
    // the construction; p sums are dsum-exact decimals, so a single
    // misapplied or lost update moves the hash. Scale: planning is
    // metadata×changes bucketed, the rewrite reads only the touched
    // fraction, and the carried 99% of a 100 TB table costs zero I/O.
    QueryDef(
      "x217_cow_merge",
      (s, d) => {
        val store = s"${System.getProperty("java.io.tmpdir")}/graft_x217_" +
          s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
        val mn = orders(s, d).agg(min("o_orderkey").cast(LongType))
          .first().getLong(0)
        try {
        val base = orders(s, d)
          .filter(col("o_orderkey") < mn + 8000L)
          .select(col("o_orderkey").cast(LongType).as("k"),
            col("o_custkey").cast(LongType).as("c"),
            col("o_totalprice").cast("decimal(12,2)").as("p"))
          .withColumn("fb", expr(s"CAST((k - $mn) div 1000 AS BIGINT)"))
        base.write.mode("overwrite").partitionBy("fb").parquet(s"$store/v0")
        val logSchema = "v BIGINT, add STRUCT<path: STRING, kmin: BIGINT," +
          " kmax: BIGINT, nrows: BIGINT>, remove STRUCT<path: STRING>"
        // fbs filter applies to the RAW inferred-int partition column with
        // int literals, so it stays a statically-pruned PartitionFilter
        // (a cast on the column would defeat pruning); the cast to long
        // happens after.
        def readV(ver: String, fbs: Option[Seq[Long]] = None) = {
          val raw = s.read.parquet(s"$store/$ver")
          fbs.fold(raw)(l => raw.filter(col("fb")
              .isin(l.map(_.toInt): _*)))
            .withColumn("fb", col("fb").cast(LongType))
        }
        def addLines(ver: String, vno: Long) = readV(ver)
          .groupBy("fb")
          .agg(min("k").as("kmin"), max("k").as("kmax"),
            count(lit(1)).as("nrows"))
          .select(to_json(struct(lit(vno).as("v"), struct(
            concat(lit(s"$ver/fb="), col("fb")).as("path"),
            col("kmin"), col("kmax"), col("nrows")).as("add"))).as("value"))
        addLines("v0", 0L).coalesce(1).write.mode("overwrite")
          .text(s"$store/log0")
        // the metadata the MERGE plans from round-trips through disk
        val stats0 = s.read.text(s"$store/log0")
          .select(from_json(col("value"), lit(logSchema)).as("a"))
          .select(col("a.add.path").as("path"), col("a.add.kmin").as("kmin"),
            col("a.add.kmax").as("kmax"), col("a.add.nrows").as("nrows"))
        val updates = base.filter(col("fb").isin(1L, 3L) &&
          (col("k") - mn) % 7 === 0).select("k")
        val inserts = base.filter(col("fb") === 0L)
          .select((col("k") + 9000L).as("k"), col("c"), col("p"),
            lit(9L).as("fb"))
        val touched = graft.ops.CowMerge.touchedFiles(stats0, updates, "k")
        // bounded collect: file PATHS (metadata class — 8 files here,
        // ~1e5 at 100 TB); drives static partition pruning of the rewrite
        val touchedFb = touched.select(
            regexp_extract(col("path"), "fb=([0-9]+)", 1).cast(LongType))
          .collect().map(_.getLong(0)).sorted
        val rewritten = readV("v0", Some(touchedFb.toIndexedSeq))
          .join(broadcast(updates.withColumn("hit", lit(1L))), Seq("k"),
            "left")
          .withColumn("p", when(col("hit") === 1L,
            col("p") + lit(BigDecimal("1.00"))).otherwise(col("p"))
            .cast("decimal(12,2)"))
        val updHits = rewritten.agg(coalesce(
          sum(coalesce(col("hit"), lit(0L))), lit(0L)).as("upd_hits"))
        rewritten.drop("hit").unionByName(inserts)
          .write.mode("overwrite").partitionBy("fb").parquet(s"$store/v1")
        val rmLines = touched.select(to_json(struct(lit(1L).as("v"),
          struct(col("path")).as("remove"))).as("value"))
        addLines("v1", 1L).unionByName(rmLines).coalesce(1)
          .write.mode("overwrite").text(s"$store/log1")
        // last-writer-wins replay over BOTH logs (x184's shape) — the
        // live set drives which files the final read touches
        val acts = s.read.text(s"$store/log0")
          .unionByName(s.read.text(s"$store/log1"))
          .select(from_json(col("value"), lit(logSchema)).as("a"))
          .select(col("a.v").as("v"),
            coalesce(col("a.add.path"), col("a.remove.path")).as("path"),
            col("a.add.nrows").as("nrows"),
            when(col("a.add").isNotNull, lit("add")).otherwise(lit("remove"))
              .as("op"))
        val live = acts.withColumn("rn", row_number().over(
            Window.partitionBy("path").orderBy(col("v").desc, col("op"))))
          .filter(col("rn") === 1 && col("op") === "add")
          .withColumn("ver", regexp_extract(col("path"), "^(v[01])/", 1))
          .withColumn("fb",
            regexp_extract(col("path"), "fb=([0-9]+)", 1).cast(LongType))
        val liveArr = live.select("ver", "fb", "nrows").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val carried = liveArr.filter(_._1 == "v0")
        val fresh = liveArr.filter(_._1 == "v1")
        val acct = updHits
          .withColumn("n_files0", // v0 file count = carried + touched
            lit((carried.length + touchedFb.length).toLong))
          .withColumn("n_touched", lit(touchedFb.length.toLong))
          .withColumn("n_carried", lit(carried.length.toLong))
          .withColumn("rows_carried", lit(carried.map(_._3).sum))
          .withColumn("rows_rewritten", lit(fresh.map(_._3).sum))
        val finalDf = readV("v0", Some(carried.map(_._2).toIndexedSeq))
          .unionByName(readV("v1", Some(fresh.map(_._2).toIndexedSeq)))
        finalDf.groupBy((col("k") % 10L).as("grp"))
          .agg(count(lit(1)).as("n"), dsum(col("p")).as("psum"),
            sum("c").as("csum"), sum("k").as("ksum"))
          .crossJoin(broadcast(acct))
          .orderBy("grp")
          // 10 rows; materialize before the finally deletes the store
          .localCheckpoint(eager = true)
        } finally {
          val p = new org.apache.hadoop.fs.Path(store)
          try p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .delete(p, true)
          catch { case _: Exception => () }
        }
      },
      Some("""WITH mn AS (SELECT min(o_orderkey) AS m FROM orders),
             |base AS (SELECT o_orderkey AS k, o_custkey AS c,
             |    CAST(o_totalprice AS DECIMAL(12,2)) AS p,
             |    (o_orderkey - m) // 1000 AS fb
             |  FROM orders, mn WHERE o_orderkey < m + 8000),
             |upd AS (SELECT k, fb FROM base, mn
             |  WHERE fb IN (1, 3) AND (k - m) % 7 = 0),
             |ins AS (SELECT k + 9000 AS k, c, p, 9 AS fb
             |  FROM base WHERE fb = 0),
             |fin AS (SELECT k, c,
             |    CASE WHEN fb IN (1, 3) AND (k - m) % 7 = 0
             |      THEN CAST(p + 1.00 AS DECIMAL(12,2)) ELSE p END AS p
             |  FROM base, mn
             |  UNION ALL SELECT k, c, p FROM ins),
             |acct AS (SELECT
             |    (SELECT count(*) FROM upd) AS upd_hits,
             |    (SELECT count(DISTINCT fb) FROM base) AS n_files0,
             |    (SELECT count(DISTINCT fb) FROM upd) AS n_touched,
             |    (SELECT count(DISTINCT fb) FROM base) -
             |      (SELECT count(DISTINCT fb) FROM upd) AS n_carried,
             |    (SELECT count(*) FROM base
             |      WHERE fb NOT IN (SELECT fb FROM upd)) AS rows_carried,
             |    (SELECT count(*) FROM base
             |      WHERE fb IN (SELECT fb FROM upd))
             |      + (SELECT count(*) FROM ins) AS rows_rewritten)
             |SELECT CAST(k % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS psum,
             |  CAST(sum(c) AS BIGINT) AS csum,
             |  CAST(sum(k) AS BIGINT) AS ksum,
             |  CAST(upd_hits AS BIGINT) AS upd_hits,
             |  CAST(n_files0 AS BIGINT) AS n_files0,
             |  CAST(n_touched AS BIGINT) AS n_touched,
             |  CAST(n_carried AS BIGINT) AS n_carried,
             |  CAST(rows_carried AS BIGINT) AS rows_carried,
             |  CAST(rows_rewritten AS BIGINT) AS rows_rewritten
             |FROM fin, acct GROUP BY 1, 6, 7, 8, 9, 10, 11
             |ORDER BY 1""".stripMargin)),

    // UNIGRAM TRAIN STEP (x218) — the training half x159 stops short of
    // (x202's role for BPE, played for the SentencePiece side): one
    // hard-EM step over the corpus. E-step: every word's MINIMUM-cost
    // segmentation under the current integer costs, with the chosen
    // pieces extracted by a deterministic backward walk — the forward DP
    // packs (cost, unit length) into one BIGINT per position
    // (cost*64 + (32 − len), len ≤ 18 < 32), so min() breaks cost ties
    // toward the LONGEST unit, and since only one unit of a given length
    // can match the fixed text ending at a position, the argmin path is
    // fully deterministic on BOTH engines. Piece counts are frequency-
    // weighted (words enter with their corpus multiplicity). M-step:
    // re-estimated integer cost per used piece,
    // 25·(len(bin(T)) − len(bin(cnt))) + 100 — an integer-exact
    // −log₂-shaped rescale both engines compute from bin() string
    // lengths (T = total piece instances). Inference under the new
    // costs is x159's existing machinery. The DP, the walk (an
    // aggregate() whose struct accumulator steps pos backward through
    // the packed array), and the counts all run in codegen'd
    // higher-order functions — no UDF; the oracle runs the same packed
    // recurrence and walk as recursive CTEs. Scale: per-word narrow
    // compute + one piece-sized shuffle; vocab is a broadcast-sized
    // literal — the tokenizer-training shape at 100 TB.
    QueryDef(
      "x218_unigram_train_step",
      (s, d) => {
        val sparkVocab = UnigramVocab.sparkArray
        val words = documents(s, d)
          .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
          .filter(length(col("w")).between(4, 18))
          .groupBy("w").agg(count(lit(1)).as("freq"))
        val dp = words.withColumn("bests", expr(
          s"""aggregate(sequence(1, length(w)), array(CAST(0 AS BIGINT)),
             |  (acc, j) -> array_append(acc,
             |    aggregate($sparkVocab, CAST(4611686018427387904 AS BIGINT),
             |      (m, v) -> CASE WHEN j >= length(v.u)
             |          AND substr(w, CAST(j - length(v.u) + 1 AS INT), length(v.u)) = v.u
             |        THEN least(m,
             |          (element_at(acc, CAST(j - length(v.u) + 1 AS INT)) div 64
             |            + v.c) * 64 + (32 - length(v.u)))
             |        ELSE m END)))""".stripMargin))
        val pieces = dp.withColumn("ps", expr(
          """aggregate(sequence(1, length(w)),
            |  named_struct('pos', CAST(length(w) AS INT),
            |    'ps', CAST(array() AS ARRAY<STRING>)),
            |  (st, x) -> CASE WHEN st.pos > 0 THEN named_struct(
            |      'pos', st.pos
            |        - CAST(32 - (element_at(bests, st.pos + 1) % 64) AS INT),
            |      'ps', array_append(st.ps, substr(w,
            |        st.pos
            |          - CAST(32 - (element_at(bests, st.pos + 1) % 64) AS INT)
            |          + 1,
            |        CAST(32 - (element_at(bests, st.pos + 1) % 64) AS INT))))
            |    ELSE st END,
            |  st -> st.ps)""".stripMargin))
          // explode_OUTER, deliberately: plain explode lets
          // InferFiltersFromGenerate add `size(ps) > 0` — and since ps is
          // a deterministic function of the group key w, constraint
          // pushdown rewrites that predicate in terms of w and sinks the
          // ENTIRE interpreted DP+walk below the aggregation, onto every
          // CORPUS word instance (measured: 11 s at sf0.1, unbounded at
          // 100×). The outer variant infers nothing; ps is never empty.
          .select(col("freq"), explode_outer(col("ps")).as("u"))
        val counts = pieces.groupBy("u").agg(sum("freq").as("cnt"))
        val tot = counts.agg(sum("cnt").as("t_pieces")).crossJoin(
          words.agg(count(lit(1)).as("n_words"),
            sum("freq").as("n_instances")))
        counts.crossJoin(broadcast(tot))
          .withColumn("old_cost", expr(
            s"aggregate($sparkVocab, CAST(-1 AS BIGINT), " +
              "(m, v) -> CASE WHEN v.u = u THEN v.c ELSE m END)"))
          .withColumn("new_cost",
            lit(25L) * (length(expr("bin(t_pieces)"))
              - length(expr("bin(cnt)"))).cast(LongType) + 100L)
          .select(col("u"), length(col("u")).cast(LongType).as("len"),
            col("cnt"), col("old_cost"), col("new_cost"),
            col("t_pieces"), col("n_words"), col("n_instances"))
          .orderBy("u")
      },
      Some {
        val duckVocab = UnigramVocab.duckList
        val vocabValues = UnigramVocab.duckValues
        s"""WITH RECURSIVE
           |raw AS (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
           |  FROM documents),
           |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM raw
           |  WHERE length(w) BETWEEN 4 AND 18 GROUP BY w),
           |dp AS (
           |  SELECT w, freq, 0 AS j, [CAST(0 AS BIGINT)] AS bests FROM wf
           |  UNION ALL
           |  SELECT w, freq, j + 1, list_append(bests,
           |    list_min(list_filter(list_transform($duckVocab, t ->
           |      CASE WHEN j + 1 >= length(t.u)
           |          AND substr(w, j + 2 - length(t.u), length(t.u)) = t.u
           |        THEN (bests[j + 2 - length(t.u)] // 64 + t.c) * 64
           |          + (32 - length(t.u)) ELSE NULL END),
           |      y -> y IS NOT NULL)))
           |  FROM dp WHERE j < length(w)),
           |dpf AS (SELECT w, freq, bests FROM dp WHERE j = length(w)),
           |walk AS (
           |  SELECT w, freq, bests, length(w) AS pos,
           |    CAST([] AS VARCHAR[]) AS ps FROM dpf
           |  UNION ALL
           |  SELECT w, freq, bests, pos - (32 - (bests[pos + 1] % 64)),
           |    list_append(ps, substr(w,
           |      CAST(pos - (32 - (bests[pos + 1] % 64)) + 1 AS INT),
           |      CAST(32 - (bests[pos + 1] % 64) AS INT)))
           |  FROM walk WHERE pos > 0),
           |pieces AS (SELECT freq, unnest(ps) AS u FROM walk WHERE pos = 0),
           |counts AS (SELECT u, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM pieces GROUP BY u),
           |vocab(vu, vc) AS (VALUES $vocabValues),
           |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_pieces FROM counts),
           |ws AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(freq) AS BIGINT) AS n_instances FROM wf)
           |SELECT u, CAST(length(u) AS BIGINT) AS len, cnt,
           |  CAST(vc AS BIGINT) AS old_cost,
           |  CAST(25 * (length(bin(t_pieces)) - length(bin(cnt))) + 100
           |    AS BIGINT) AS new_cost,
           |  t_pieces, n_words, n_instances
           |FROM counts JOIN vocab ON vu = u, tot, ws
           |ORDER BY u""".stripMargin
      }),

    // INTERVAL OVERLAP JOIN (x219) — the missing member of the temporal-
    // join family: q22 joins a POINT into a bounded range, x14 is as-of,
    // x186 aggregates interval concurrency; this joins INTERVAL×INTERVAL
    // on intersection (s1 ≤ e2 AND s2 ≤ e1) — sessions×sessions,
    // ad-slots×impressions, the shape whose naive key equi-join degrades
    // to per-key quadratic probes as history grows. ops/OverlapJoin
    // generalizes the bucket trick to two EXPLODED sides: each interval
    // covers floor(s/W)..floor(e/W) (≤ 2 buckets at length ≤ W), the
    // join runs on (user, bucket), and exactly-once is restored by the
    // meet-bucket residual — an overlapping pair survives only in
    // bucket floor(max(s1,s2)/W), which both covered lists provably
    // contain (the multiset-equality argument at the op). Intervals:
    // event start + (event_id % 3600 + 1) s duration, even ids vs odd
    // ids per user. The oracle is the brute-force inequality join; pair
    // count, exact-µs overlap mass, and id-sum all must match. Scale:
    // probe cost per row is the partner rate within 2W — independent of
    // history; everything is codegen'd integer arithmetic on
    // unix_micros.
    QueryDef(
      "x219_interval_overlap_join",
      (s, d) => {
        import graft.ops.OverlapJoin
        val w = 3601L * 1000000L // >= max duration (3600 s) in µs
        val ev = events(s, d).select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("st"))
          .withColumn("en",
            col("st") + (col("event_id") % 3600L + 1L) * 1000000L)
        val a = ev.filter(col("event_id") % 2 === 0)
          .select(col("user_id"), col("event_id").as("a_id"),
            col("st").as("s1"), col("en").as("e1"))
          .withColumn("bk",
            OverlapJoin.coveredBuckets(col("s1"), col("e1"), w))
        val b = ev.filter(col("event_id") % 2 === 1)
          .select(col("user_id"), col("event_id").as("b_id"),
            col("st").as("s2"), col("en").as("e2"))
          .withColumn("bk",
            OverlapJoin.coveredBuckets(col("s2"), col("e2"), w))
        a.join(b, Seq("user_id", "bk"))
          .filter(OverlapJoin.overlaps(
              col("s1"), col("e1"), col("s2"), col("e2")) &&
            col("bk") === OverlapJoin.meetBucket(col("s1"), col("s2"), w))
          .groupBy((col("user_id") % 10).as("grp"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(least(col("e1"), col("e2"))
              - greatest(col("s1"), col("s2"))).as("overlap_us"),
            sum(col("a_id") + col("b_id")).as("idsum"))
          .orderBy("grp")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS st,
             |    epoch_us(ts) + (event_id % 3600 + 1) * 1000000 AS en
             |  FROM events),
             |a AS (SELECT user_id, event_id AS a_id, st AS s1, en AS e1
             |  FROM ev WHERE event_id % 2 = 0),
             |b AS (SELECT user_id, event_id AS b_id, st AS s2, en AS e2
             |  FROM ev WHERE event_id % 2 = 1),
             |p AS (SELECT a.user_id, a_id, b_id, s1, e1, s2, e2
             |  FROM a JOIN b ON a.user_id = b.user_id
             |    AND s1 <= e2 AND s2 <= e1)
             |SELECT CAST(user_id % 10 AS BIGINT) AS grp,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(sum(least(e1, e2) - greatest(s1, s2)) AS BIGINT)
             |    AS overlap_us,
             |  CAST(sum(a_id + b_id) AS BIGINT) AS idsum
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // INCREMENTAL AGGREGATE MAINTENANCE (x220) — the materialized-view
    // delta update every 100 TB rollup lives by (x47/x203's incremental
    // discipline applied to AGGREGATION state): yesterday's per-(lang,
    // source) aggregate is a DerivedStore-backed state frame (count /
    // char-sum / id-sum — commutative AND invertible measures, chosen so
    // deletes subtract exactly), and today's delta batch (deletes:
    // doc_id%17=0; inserts: doc_id%13=0 re-keyed +500000 with +7 chars,
    // every 26th re-homed to a NEW 'zz' language so the merge exercises
    // state-missing groups) folds in via ONE full-outer merge on the
    // group key, dropping groups whose count reaches zero. The base
    // corpus is NEVER rescanned in the combine — the state side is the
    // pinned in-memory materialization (plan-pinned: the merged plan's
    // only parquet scans are delta-sized), which is the entire point at
    // 100 TB: maintenance cost tracks the DELTA plus the metadata-sized
    // state, not the corpus. The oracle recomputes the view from scratch
    // over (base − deletes) ∪ inserts — incremental must equal full
    // recompute bit-for-bit, with group counts in-band (n_groups_base /
    // n_groups_delta / n_groups_out).
    QueryDef(
      "x220_incr_agg_maintenance",
      (s, d) => {
        val state = docAggState(s, d)
        val base = documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        val dels = base.filter(col("doc_id") % 17 === 0)
          .select(col("lang"), col("source"), lit(-1L).as("dn"),
            (-col("n_chars").cast(LongType)).as("dchars"),
            (-col("doc_id")).as("didsum"))
        val ins = base.filter(col("doc_id") % 13 === 0)
          .select(
            when(col("doc_id") % 26 === 0, lit("zz")).otherwise(col("lang"))
              .as("lang"),
            col("source"), lit(1L).as("dn"),
            (col("n_chars").cast(LongType) + 7L).as("dchars"),
            (col("doc_id") + 500000L).as("didsum"))
        val delta = dels.unionByName(ins).groupBy("lang", "source")
          .agg(sum("dn").as("dn"), sum("dchars").as("dchars"),
            sum("didsum").as("didsum"))
          // group-sized (langs × sources): pin so the merge AND the two
          // accounting consumers read ONE delta pass over the batch
          .localCheckpoint(eager = true)
        val merged = state.join(delta, Seq("lang", "source"), "full_outer")
          .select(col("lang"), col("source"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n"),
            (coalesce(col("chars"), lit(0L))
              + coalesce(col("dchars"), lit(0L))).as("chars"),
            (coalesce(col("idsum"), lit(0L))
              + coalesce(col("didsum"), lit(0L))).as("idsum"))
          .filter(col("n") > 0L)
        val acct = state.agg(count(lit(1)).as("n_groups_base"))
          .crossJoin(delta.agg(count(lit(1)).as("n_groups_delta")))
        // n_groups_out via a window over the GROUP-sized merged frame
        // (langs × sources rows — bounded, never data): a separate
        // merged.count() would re-execute the full-outer join
        merged
          .withColumn("n_groups_out",
            count(lit(1)).over(Window.partitionBy(lit(1))))
          .crossJoin(broadcast(acct))
          .orderBy("lang", "source")
      },
      Some("""WITH base AS (SELECT doc_id, lang, source, n_chars
             |  FROM documents),
             |kept AS (SELECT * FROM base WHERE doc_id % 17 <> 0),
             |ins AS (SELECT doc_id + 500000 AS doc_id,
             |    CASE WHEN doc_id % 26 = 0 THEN 'zz' ELSE lang END AS lang,
             |    source, n_chars + 7 AS n_chars
             |  FROM base WHERE doc_id % 13 = 0),
             |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
             |g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(n_chars) AS BIGINT) AS chars,
             |    CAST(sum(doc_id) AS BIGINT) AS idsum
             |  FROM fin GROUP BY 1, 2),
             |dgrp AS (SELECT DISTINCT lang, source FROM (
             |  SELECT lang, source FROM base WHERE doc_id % 17 = 0
             |  UNION ALL
             |  SELECT CASE WHEN doc_id % 26 = 0 THEN 'zz' ELSE lang END,
             |    source FROM base WHERE doc_id % 13 = 0)),
             |acct AS (SELECT
             |  (SELECT count(*) FROM
             |    (SELECT DISTINCT lang, source FROM base)) AS n_groups_base,
             |  (SELECT count(*) FROM dgrp) AS n_groups_delta,
             |  (SELECT count(*) FROM g) AS n_groups_out)
             |SELECT lang, source, n, chars, idsum,
             |  CAST(n_groups_base AS BIGINT) AS n_groups_base,
             |  CAST(n_groups_delta AS BIGINT) AS n_groups_delta,
             |  CAST(n_groups_out AS BIGINT) AS n_groups_out
             |FROM g, acct ORDER BY lang, source""".stripMargin))
  )

  /** Engine-side Arrow IPC stream writer for the x209 gate: one stream of
    * (k BIGINT NOT NULL, v BIGINT, f FLOAT8, s UTF8) rows in `batchRows`-
    * row record batches, written with ARROW-JAVA — the differential
    * subject ops/ArrowIpc then hand-decodes. Runs per partition on
    * executors (never a driver materialization); the allocator is
    * task-local and closed in finally. */
  private def arrowStreamBytes(rows: Iterator[org.apache.spark.sql.Row],
      batchRows: Int): Array[Byte] = {
    System.setProperty("io.netty.tryReflectionSetAccessible", "true")
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.FloatingPointPrecision
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    val schema = new Schema(java.util.Arrays.asList(
      new Field("k", FieldType.notNullable(new ArrowType.Int(64, true)), null),
      new Field("v", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("f", FieldType.nullable(
        new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)), null),
      new Field("s", FieldType.nullable(new ArrowType.Utf8()), null)))
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(schema, alloc)
    val bos = new java.io.ByteArrayOutputStream()
    val w = new ArrowStreamWriter(root, null,
      java.nio.channels.Channels.newChannel(bos))
    try {
      w.start()
      rows.grouped(math.max(batchRows, 1)).foreach { chunk =>
        root.allocateNew()
        val kv = root.getVector("k").asInstanceOf[BigIntVector]
        val vv = root.getVector("v").asInstanceOf[BigIntVector]
        val fv = root.getVector("f").asInstanceOf[Float8Vector]
        val sv = root.getVector("s").asInstanceOf[VarCharVector]
        chunk.zipWithIndex.foreach { case (r, i) =>
          kv.setSafe(i, r.getLong(0))
          if (r.isNullAt(1)) vv.setNull(i) else vv.setSafe(i, r.getLong(1))
          if (r.isNullAt(2)) fv.setNull(i) else fv.setSafe(i, r.getDouble(2))
          if (r.isNullAt(3)) sv.setNull(i)
          else sv.setSafe(i, r.getString(3).getBytes("UTF-8"))
        }
        root.setRowCount(chunk.size)
        w.writeBatch()
      }
      w.end()
      bos.toByteArray
    } finally { w.close(); root.close(); alloc.close() }
  }

  /** Shared by x198/x202: byte-level pretokens (doc_id, ti, m) over the
    * paired probe corpus — the ENGINE side runs the real GPT-2 regex
    * (Java regex: the lookahead is native) and maps bytes→unicode
    * (space→Ġ, tab→ĉ, newline→Ċ for the ASCII probe). */
  private def bytePretokens(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"
    val cleaned = (1 to 8).map(i =>
      regexp_replace(element_at(col("tk"), i), "[^a-z]", "").as(s"c$i"))
    val probe = documents(s, d).filter(col("doc_id") < 3000)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id") +: cleaned: _*)
      .select(col("doc_id"), concat(
        col("c1"), lit("'s went "), col("c2"), lit("  "), col("c3"),
        lit(", over 1234\n"), col("c4"), lit(" don't stop\t"),
        col("c5"), lit(" they're "), col("c6"), lit("!!' "),
        col("c7"), lit(" 7b "), col("c8"), lit("   ")).as("probe"))
    probe
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("probe"), lit(pat), lit(0)))
          .as(Seq("ti", "tok")))
      .withColumn("m", expr(
        "replace(replace(replace(tok, ' ', 'Ġ'), chr(9), 'ĉ'), " +
          "chr(10), 'Ċ')"))
      .drop("tok")
  }

  /** Shared by x197/x201: the maximal-repeat span ORACLE — duplicated
    * 25-gram anchors re-derived from gram TEXT (no hashing anywhere),
    * interval-union islands (an island breaks only where the anchor gap
    * reaches k=25; anchors closer than k have overlapping k-windows and
    * merge — the same rule as ops/MaximalRepeats, independently
    * constructed). Ends in `sp(doc_id, source, start, len)` with 1-based
    * starts; CTE `t(doc_id, source, tk)` stays visible to suffixes. */
  private lazy val maxRepSpanSql: String =
    """WITH t AS (SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |  FROM documents),
      |g AS (SELECT doc_id, source, u.p AS pos,
      |    list_aggregate(tk[u.p:u.p+24], 'string_agg', ' ') AS gram
      |  FROM t, LATERAL unnest(range(1, len(tk) - 23)) AS u(p)),
      |d AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
      |dp AS (SELECT g.doc_id, g.source, g.pos
      |  FROM g JOIN d USING (gram)),
      |isl AS (SELECT doc_id, source, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
      |        < 25 THEN 0 ELSE 1 END AS nb
      |  FROM dp),
      |isl2 AS (SELECT doc_id, source, pos,
      |    sum(nb) OVER (PARTITION BY doc_id ORDER BY pos) AS a
      |  FROM isl),
      |sp AS (SELECT doc_id, source, min(pos) AS start,
      |    max(pos) - min(pos) + 25 AS len
      |  FROM isl2 GROUP BY doc_id, source, a)""".stripMargin

  /** Shared by x198/x202: the GPT-2 byte-level pretokenizer ORACLE —
    * paired probe construction + the fuzz-validated character-class run
    * walker (recursive CTE) ending in `toks(doc_id, ti, m)` with the
    * bytes→unicode mapping applied. DuckDB's RE2 lacks the pattern's
    * lookahead, hence the independent walker construction. */
  private lazy val gpt2WalkerSql: String =
    s"""WITH RECURSIVE
              |tkt AS (SELECT doc_id, $tokensSql AS tk FROM documents
              |  WHERE doc_id < 3000),
              |base AS (SELECT doc_id,
              |    regexp_replace(tk[1], '[^a-z]', '', 'g') || '''s went ' ||
              |    regexp_replace(tk[2], '[^a-z]', '', 'g') || '  ' ||
              |    regexp_replace(tk[3], '[^a-z]', '', 'g') ||
              |    ', over 1234' || chr(10) ||
              |    regexp_replace(tk[4], '[^a-z]', '', 'g') ||
              |    ' don''t stop' || chr(9) ||
              |    regexp_replace(tk[5], '[^a-z]', '', 'g') ||
              |    ' they''re ' ||
              |    regexp_replace(tk[6], '[^a-z]', '', 'g') || '!!'' ' ||
              |    regexp_replace(tk[7], '[^a-z]', '', 'g') || ' 7b ' ||
              |    regexp_replace(tk[8], '[^a-z]', '', 'g') || '   ' AS probe
              |  FROM tkt WHERE len(tk) >= 8),
              |chars AS (SELECT doc_id, u.i AS i, substr(probe, u.i, 1) AS ch
              |  FROM base, LATERAL unnest(range(1, len(probe) + 1)) u(i)),
              |cl AS (SELECT doc_id, i, ch,
              |    CASE WHEN ch BETWEEN 'a' AND 'z' OR ch BETWEEN 'A' AND 'Z'
              |        THEN 'L'
              |      WHEN ch BETWEEN '0' AND '9' THEN 'N'
              |      WHEN ch IN (' ', chr(9), chr(10), chr(13)) THEN 'W'
              |      ELSE 'P' END AS c
              |  FROM chars),
              |brk AS (SELECT doc_id, i, ch, c,
              |    CASE WHEN lag(c) OVER (PARTITION BY doc_id ORDER BY i)
              |        IS DISTINCT FROM c THEN 1 ELSE 0 END AS nb
              |  FROM cl),
              |rl AS (SELECT doc_id, i, ch, c,
              |    sum(nb) OVER (PARTITION BY doc_id ORDER BY i) AS rid
              |  FROM brk),
              |runs AS (SELECT doc_id, rid, count(*) AS len, any_value(c) AS c,
              |    string_agg(ch, '' ORDER BY i) AS content
              |  FROM rl GROUP BY doc_id, rid),
              |st(doc_id, rid, off, ti, tok) AS (
              |  SELECT doc_id, 1, 0, 0, '' FROM base
              |  UNION ALL
              |  SELECT st.doc_id,
              |    CASE WHEN r.c IN ('L', 'N') THEN st.rid + 1
              |      WHEN r.c = 'P' THEN CASE
              |        WHEN r.content = '''' AND nx.c = 'L'
              |            AND (substr(nx.content, 1, 1) IN ('s','t','m','d')
              |              OR substr(nx.content, 1, 2) IN ('re','ve','ll'))
              |          THEN CASE WHEN (CASE WHEN substr(nx.content, 1, 1)
              |                IN ('s','t','m','d') THEN 1 ELSE 2 END) < nx.len
              |            THEN st.rid + 1 ELSE st.rid + 2 END
              |        ELSE st.rid + 1 END
              |      ELSE CASE
              |        WHEN nx.rid IS NULL THEN st.rid + 1
              |        WHEN r.len - st.off >= 2 THEN st.rid
              |        WHEN substr(r.content, r.len, 1) = ' '
              |            AND nx.c IN ('L', 'N', 'P') THEN st.rid + 2
              |        ELSE st.rid + 1 END END,
              |    CASE WHEN r.c = 'P' AND r.content = '''' AND nx.c = 'L'
              |          AND (substr(nx.content, 1, 1) IN ('s','t','m','d')
              |            OR substr(nx.content, 1, 2) IN ('re','ve','ll'))
              |          AND (CASE WHEN substr(nx.content, 1, 1)
              |              IN ('s','t','m','d') THEN 1 ELSE 2 END) < nx.len
              |        THEN CASE WHEN substr(nx.content, 1, 1)
              |          IN ('s','t','m','d') THEN 1 ELSE 2 END
              |      WHEN r.c = 'W' AND nx.rid IS NOT NULL
              |          AND r.len - st.off >= 2 THEN r.len - 1
              |      ELSE 0 END,
              |    st.ti + 1,
              |    CASE WHEN r.c IN ('L', 'N') THEN substr(r.content, st.off + 1)
              |      WHEN r.c = 'P' THEN CASE
              |        WHEN r.content = '''' AND nx.c = 'L'
              |            AND (substr(nx.content, 1, 1) IN ('s','t','m','d')
              |              OR substr(nx.content, 1, 2) IN ('re','ve','ll'))
              |          THEN '''' || substr(nx.content, 1,
              |            CASE WHEN substr(nx.content, 1, 1)
              |              IN ('s','t','m','d') THEN 1 ELSE 2 END)
              |        ELSE r.content END
              |      ELSE CASE
              |        WHEN nx.rid IS NULL THEN substr(r.content, st.off + 1)
              |        WHEN r.len - st.off >= 2
              |          THEN substr(r.content, st.off + 1, r.len - st.off - 1)
              |        WHEN substr(r.content, r.len, 1) = ' '
              |            AND nx.c IN ('L', 'N', 'P')
              |          THEN ' ' || nx.content
              |        ELSE substr(r.content, r.len, 1) END END
              |  FROM st
              |  JOIN runs r ON r.doc_id = st.doc_id AND r.rid = st.rid
              |  LEFT JOIN runs nx ON nx.doc_id = st.doc_id
              |    AND nx.rid = st.rid + 1),
              |toks AS (SELECT doc_id, ti,
              |    replace(replace(replace(tok, ' ', 'Ġ'), chr(9), 'ĉ'),
              |      chr(10), 'Ċ') AS m
              |  FROM st WHERE ti >= 1)"""
      .stripMargin

  /** x196's WordPiece vocabulary, shared by the Spark expression and the
    * oracle's VALUES table: [UNK] at id 0, the ASCII letters as start and
    * ## continuation pieces, then corpus-shaped multi-char merges that
    * outrank their character decompositions under greedy longest match. */
  private object WordPieceFixture {
    val vocab: Seq[String] = {
      val letters = ('a' to 'z').map(_.toString)
      Seq("[UNK]") ++ letters ++ letters.map("##" + _) ++ Seq(
        "ta", "##ble", "wi", "##ndow", "str", "##eam", "qu", "##ery",
        "cust", "##omer", "fil", "##ter", "gr", "##oup", "ba", "##tch",
        "sp", "##ark", "co", "##lumn", "sc", "##an", "jo", "##in",
        "or", "##der", "da", "##ta")
    }
    /** (id, stripped piece, cont, len) rows — [UNK] stays out of the table. */
    val valuesSql: String = vocab.zipWithIndex.drop(1).map { case (p, id) =>
      val cont = p.startsWith("##")
      val stripped = if (cont) p.substring(2) else p
      s"($id, '$stripped', ${if (cont) "TRUE" else "FALSE"}, ${stripped.length})"
    }.mkString(", ")
  }

  /** TIFF fixture prefixes for x168 (header + IFD as constant hex,
    * computed here so byte-order and offset arithmetic live in ONE
    * place): three variants — LE single-strip raw, LE PackBits, and
    * big-endian TWO-strip raw whose StripOffsets/ByteCounts arrays are
    * stored behind file offsets (the >4-byte path). Pixel data is
    * appended by the gate's SQL. 16×8 grayscale, IFD at 8, 9 ascending
    * tags, data at 122. */
  private object TiffFixture {
    private def u16(v: Int, le: Boolean): String =
      if (le) f"${v & 255}%02X${(v >> 8) & 255}%02X"
      else f"${(v >> 8) & 255}%02X${v & 255}%02X"
    private def u32(v: Long, le: Boolean): String =
      if (le) f"${v & 255}%02X${(v >> 8) & 255}%02X${(v >> 16) & 255}%02X${(v >> 24) & 255}%02X"
      else f"${(v >> 24) & 255}%02X${(v >> 16) & 255}%02X${(v >> 8) & 255}%02X${v & 255}%02X"
    // Inline values are LEFT-JUSTIFIED in the 4-byte field in both orders.
    private def entry(le: Boolean, tag: Int, typ: Int, cnt: Long, value: Long): String =
      u16(tag, le) + u16(typ, le) + u32(cnt, le) +
        (if (typ == 3 && cnt == 1) u16(value.toInt, le) + "0000" else u32(value, le))
    private def build(le: Boolean, entries: Seq[(Int, Int, Long, Long)],
        tail: String = ""): String = {
      val header = (if (le) "49492A00" else "4D4D002A") + u32(8, le)
      header + u16(entries.size, le) +
        entries.map(e => entry(le, e._1, e._2, e._3, e._4)).mkString +
        u32(0, le) + tail
    }
    private def base(comp: Int, count: Long): Seq[(Int, Int, Long, Long)] = Seq(
      (256, 3, 1L, 16L), (257, 3, 1L, 8L), (258, 3, 1L, 8L),
      (259, 3, 1L, comp.toLong), (262, 3, 1L, 1L), (273, 4, 1L, 122L),
      (277, 3, 1L, 1L), (278, 3, 1L, 8L), (279, 4, 1L, count))
    /** LE, single strip, uncompressed (128 pixel bytes at 122). */
    val leRaw: String = build(le = true, base(1, 128L))
    /** LE, single strip, PackBits (76 bytes at 122: 4 literal rows of
      * 0x0F+16 bytes interleaved with 4 run rows of 0xF1+1 byte). */
    val lePackBits: String = build(le = true, base(32773, 76L))
    /** Big-endian, TWO strips (RowsPerStrip 4): offsets array at 122
      * (strips at 138/202), counts array at 130 — both behind offsets. */
    val beTwoStrip: String = build(le = false, Seq(
      (256, 3, 1L, 16L), (257, 3, 1L, 8L), (258, 3, 1L, 8L),
      (259, 3, 1L, 1L), (262, 3, 1L, 1L), (273, 4, 2L, 122L),
      (277, 3, 1L, 1L), (278, 3, 1L, 4L), (279, 4, 2L, 130L)),
      tail = u32(138, le = false) + u32(202, le = false) +
        u32(64, le = false) + u32(64, le = false))
  }

  /** IMA/DVI ADPCM public-spec tables, shared by x167's two engine-native
    * decoders (Spark higher-order aggregate; DuckDB recursive CTE). */
  /** x159/x218's shared unit vocabulary with additive integer costs —
    * chars + common English bigrams/trigrams/quadgrams. Rendered once per
    * engine syntax so the Spark DP, the DuckDB DP, and the oracle's
    * old-cost join all read the same table. */
  private object UnigramVocab {
    val units: Seq[(String, Int)] =
      ('a' to 'z').map(c => c.toString -> 100) ++ Seq(
        "th" -> 150, "he" -> 155, "in" -> 140, "er" -> 150, "an" -> 145,
        "re" -> 152, "on" -> 148, "at" -> 147, "en" -> 151, "nd" -> 153,
        "ti" -> 149, "es" -> 150, "or" -> 154, "te" -> 150,
        "the" -> 180, "ing" -> 200, "and" -> 185, "ion" -> 205,
        "ent" -> 210, "for" -> 215, "ati" -> 207,
        "tion" -> 250, "ment" -> 260, "atio" -> 262)
    val sparkArray: String = units
      .map { case (u, c) => s"named_struct('u', '$u', 'c', CAST($c AS BIGINT))" }
      .mkString("array(", ", ", ")")
    val duckList: String = units
      .map { case (u, c) => s"{'u': '$u', 'c': CAST($c AS BIGINT)}" }
      .mkString("[", ", ", "]")
    val duckValues: String =
      units.map { case (u, c) => s"('$u', $c)" }.mkString(", ")
  }

  private object AdpcmTables {
    val stepsSql: String = Seq(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
      41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
      190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
      724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
      2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767).mkString(", ")
    val idxSql: String = "-1, -1, -1, -1, 2, 4, 6, 8"
  }
}
