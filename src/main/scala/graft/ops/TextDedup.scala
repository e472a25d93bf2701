package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Public text-dedup building blocks (the library surface behind the
  * x02/x03/x05 catalog queries — see graft.queries.PipelineQueries for the
  * oracle-checked compositions).
  *
  * Scale notes: tokenization/shingling are narrow codegen'd ops; MinHash
  * reduces via map-side partial min so the signature shuffle carries
  * ≤ |docs|×seeds rows; banding + bucket join bound candidate pairs without
  * any all-pairs stage.
  */
object TextDedup {

  /** Whitespace tokens; trim-then-split keeps it lambda-free (codegen'd). */
  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Word n-gram shingle expression over a token-array column named `tk`.
    * Kept for reference/SQL-twin readability; library paths use the fused
    * codegen [[graft.functions.WordShingles]] via [[shingles]] — the
    * lambda form here is interpreted (CodegenFallback) per shingle. */
  def shinglesExpr(n: Int = 3): String = {
    val parts = (0 until n).map(i => s"tk[i+$i]").mkString(", ")
    s"transform(sequence(0, size(tk) - $n), i -> concat_ws(' ', $parts))"
  }

  /** Word n-gram shingles from a token-array column — one fused codegen
    * pass (identical strings to [[shinglesExpr]] on its guarded
    * `size(tk) >= n` domain; empty array below it). */
  def shingles(tk: Column, n: Int = 3): Column =
    graft.functions.WordShingles.shingles(tk, n)

  /** (doc_id, seed, mh): per-seed MinHash of word-3-gram shingles.
    * Lexicographic min over md5 hex == numeric min (fixed width). */
  def minhashSignatures(docs: DataFrame, seeds: Int = 8): DataFrame = {
    // One aggregation pass with `seeds` min() states per doc (round 12;
    // was a second explode fanning every shingle row out `seeds` times,
    // so the hash aggregate probed `seeds`× rows on a (doc_id, seed)
    // key). The md5 count is identical — what disappears is the Generate
    // and the per-fanned-row agg probe; the post-agg unpivot is doc-sized.
    // Seed literals are inlined strings, so md5 inputs are byte-identical.
    val aggs = (0 until seeds).map(i =>
      min(md5(concat(lit(s"$i:"), col("sh")))).as(s"_mh$i"))
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(shingles(col("tk"))).as("sh"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), posexplode(array(
        (0 until seeds).map(i => col(s"_mh$i")): _*)).as(Seq("seed", "mh")))
      .select(col("doc_id"), col("seed").cast("long").as("seed"), col("mh"))
  }

  /** Signatures folded to one seed-ordered array per doc. */
  def minhashSignatureArrays(docs: DataFrame, seeds: Int = 8): DataFrame =
    minhashSignatures(docs, seeds)
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(seed, mh))), x -> x.mh)").as("sigs"))

  /** LSH candidate pairs: bands of `rowsPerBand` signature rows; pairs share
    * a band bucket. Returns (a_id, b_id, n_match) with a_id < b_id. */
  def lshCandidatePairs(docs: DataFrame, seeds: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // the band frame self-joins: without materialization the whole
    // tokenize→shingle→minhash chain runs once per join side (the
    // multi-consumer trap). |docs|×nBands rows — checkpoint.
    val bands = bandFrame(docs, seeds, rowsPerBand).localCheckpoint(true)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sigs").as("sa"), col("b.sigs").as("sb"))
      .groupBy("a_id", "b_id")
      .agg(first(col("sa")).as("sa"), first(col("sb")).as("sb"))
      .select(col("a_id"), col("b_id"),
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), p => p))
          .cast("long").as("n_match"))
  }

  /** (doc_id, sigs, band, bsig): one row per document per LSH band, with an
    * order-insensitive digest of the band's signature members. */
  private def bandFrame(docs: DataFrame, seeds: Int, rowsPerBand: Int): DataFrame = {
    require(seeds % rowsPerBand == 0)
    val nBands = seeds / rowsPerBand
    val bandSig = (0 until nBands).map { b =>
      val members = (0 until rowsPerBand).map(r => s"sigs[${b * rowsPerBand + r}]").mkString(", ")
      // order-insensitive digest of the band's members
      s"concat_ws('|', array_sort(array($members)))"
    }
    minhashSignatureArrays(docs, seeds)
      .select(col("doc_id"), col("sigs"), posexplode(expr(
        s"array(${bandSig.mkString(", ")})")))
      .select(col("doc_id"), col("sigs"), col("pos").as("band"), col("col").as("bsig"))
  }

  /** LSH candidate pairs ACROSS two corpora — new batch × existing index
    * ONLY, never new×new or index×index: the incremental-ingestion shape,
    * where today's crawl is deduped against yesterday's corpus and the
    * pair-stage cost scales with the BATCH, not the corpus squared. In
    * production the index side's band table is precomputed once and stored
    * (it is a pure function of the index corpus); here it derives inline.
    * Returns (new_id, index_id, n_match). */
  def crossLshCandidatePairs(
      newDocs: DataFrame,
      indexDocs: DataFrame,
      seeds: Int = 8,
      rowsPerBand: Int = 2): DataFrame =
    bandFrame(newDocs, seeds, rowsPerBand).as("a")
      .join(bandFrame(indexDocs, seeds, rowsPerBand).as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("index_id"),
        col("a.sigs").as("sa"), col("b.sigs").as("sb"))
      .groupBy("new_id", "index_id")
      .agg(first(col("sa")).as("sa"), first(col("sb")).as("sb"))
      .select(col("new_id"), col("index_id"),
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), p => p))
          .cast("long").as("n_match"))

  /** Sign-LSH bucket over the first `bits` embedding dimensions. */
  def signBucket(emb: Column, bits: Int = 8): Column =
    concat((1 to bits).map(i => when(element_at(emb, i) >= 0f, "1").otherwise("0")): _*)

  /** SimHash fingerprint as a BIGINT: per-bit majority vote over each
    * token's md5 bits (x04/x16's gated form as a library call). One token
    * explode + one hash aggregate with `bits` partial sums — integer
    * fingerprints keep hamming distance a single `bit_count(a ^ b)`
    * intrinsic and bands a shift+mask (string fingerprints fall out of
    * whole-stage codegen past ~30 compare terms). `bits` ≤ 62. */
  def simhashFingerprint(docs: DataFrame, bits: Int = 32): DataFrame = {
    require(bits > 0 && bits <= 62, "bits must be in (0, 62]")
    val voteCols = (0 until bits).map { p =>
      val dig = s"(instr('0123456789abcdef', substring(h, ${p / 4 + 1}, 1)) - 1)"
      sum(expr(s"CASE WHEN (($dig >> ${p % 4}) & 1) = 1 THEN 1 ELSE -1 END")).as(s"sv$p")
    }
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok").cast("binary")).as("h"))
      .groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(p =>
          when(col(s"sv$p") >= 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** End-to-end near-dedup: (doc_id, canonical_id) where canonical_id is
    * the smallest doc_id reachable through LSH candidate pairs with
    * ≥ `minMatch` matching signature rows — i.e. connected-component
    * canonicalization with a min-id survivor policy. Docs with no near-dup
    * map to themselves.
    *
    * Components come from iterative min-label propagation over the pair
    * adjacency WITH path compression (each step also jumps to the label of
    * the current label), so convergence is O(log diameter), not
    * O(diameter) — a chain-shaped component longer than the iteration
    * budget would otherwise silently mis-canonicalize. `maxIterations`=64
    * is therefore a pure safety valve (2^64 exceeds any real chain); the
    * loop exits on the first unchanged pass.
    *
    * Convergence: the step output CARRIES its previous label, so the
    * changed-row test is a narrow filter-count over the blocks the
    * iteration just materialized — not the former full join of old vs new
    * labels (one heavy job + one block-scan per pass, instead of two
    * shuffling jobs). A DataFrame `persist` could fold even the block scan
    * into the materializing aggregate, but building the columnar cache
    * twice per pass measured SLOWER than checkpointing the raw rows —
    * measured, not assumed.
    *
    * Cluster story (`reliable = true`): materializations go through
    * `Dataset.checkpoint` to `spark.sparkContext.setCheckpointDir` (HDFS/
    * object store) — losing an executor mid-run recovers from the
    * checkpoint files. The default `localCheckpoint` stores blocks on
    * executors with NO lineage: fastest for local/interactive use, but an
    * executor loss kills the job, so long cluster runs should opt in.
    */
  def dedupMapping(
      docs: DataFrame,
      seeds: Int = 8,
      rowsPerBand: Int = 2,
      minMatch: Int = 6,
      maxIterations: Int = 64,
      reliable: Boolean = false): DataFrame = {
    val pairs = lshPairs(docs, seeds, rowsPerBand, minMatch, reliable)
    val out = dedupMappingFromPairs(docs, pairs, maxIterations, reliable)
    // the pair set was built here, so its blocks are ours to release: the
    // returned labels frame is already materialized and no longer needs it
    CheckpointBlocks.release(pairs)
    out
  }

  /** The MATERIALIZED filtered LSH pair set (a_id, b_id) — the expensive
    * shingle→signature→band→verify stage as a standalone product, so a
    * workflow that needs pairs in more than one place (dedup mapping AND a
    * differential components check, say) computes them exactly once and
    * feeds [[dedupMappingFromPairs]] / `GraphAlgos.connectedComponents`
    * the same frame. */
  def lshPairs(
      docs: DataFrame,
      seeds: Int = 8,
      rowsPerBand: Int = 2,
      minMatch: Int = 6,
      reliable: Boolean = false): DataFrame = {
    val materialize: DataFrame => DataFrame =
      if (reliable) _.checkpoint(eager = true) else _.localCheckpoint(eager = true)
    materialize(
      lshCandidatePairs(docs, seeds, rowsPerBand)
        .filter(col("n_match") >= minMatch)
        .select("a_id", "b_id"))
  }

  /** One-row diagnostic of the LSH banding's actual join work — the
    * per-decade instrument behind SCALE.md's pair-count table. The
    * band-bucket self-join's cost is Σ over buckets of c·(c−1)/2
    * (`joined_rows`); if that grows faster than the corpus, band
    * occupancy is saturating the way x06's 8-bit sign buckets did and
    * the banding needs retuning (more bands / wider signatures). Columns:
    * n_docs, n_buckets, max_bucket (largest single bucket), joined_rows
    * (pre-dedup pair candidates the join physically produces),
    * n_candidates (distinct candidate pairs), n_verified (n_match ≥
    * minMatch — what the dedup family consumes). One shuffle over the
    * band frame + the same bucket join the production path runs. */
  def lshPairStats(
      docs: DataFrame,
      seeds: Int = 8,
      rowsPerBand: Int = 2,
      minMatch: Int = 6): DataFrame = {
    val bands = bandFrame(docs, seeds, rowsPerBand).localCheckpoint(true)
    val nDocs = bands.select(col("doc_id")).distinct().agg(count(lit(1)).as("n_docs"))
    val buckets = bands.groupBy("band", "bsig").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_buckets"), max(col("c")).as("max_bucket"),
        sum(col("c") * (col("c") - 1) / 2).cast("long").as("joined_rows"))
    val pairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.sigs").as("sa"), col("b.sigs").as("sb"))
      .groupBy("a_id", "b_id")
      .agg(first(col("sa")).as("sa"), first(col("sb")).as("sb"))
      .select(
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), p => p))
          .cast("long").as("n_match"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("n_match") >= minMatch, 1L).otherwise(0L)).as("n_verified"))
    nDocs.crossJoin(buckets).crossJoin(pairs)
  }

  /** [[dedupMapping]] over a PREBUILT pair set (see [[lshPairs]]): only the
    * iterative component stage runs here. `pairs` is consumed lazily every
    * pass — hand in a materialized frame, and release it yourself (the
    * caller owns it). */
  def dedupMappingFromPairs(
      docs: DataFrame,
      pairs: DataFrame,
      maxIterations: Int = 64,
      reliable: Boolean = false): DataFrame = {
    val materialize: DataFrame => DataFrame =
      if (reliable) _.checkpoint(eager = true) else _.localCheckpoint(eager = true)
    val adj = pairs.unionByName(
      pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    // same materializer as every other generation: under `reliable` the
    // FIRST (heaviest) pass must also survive executor loss, so the initial
    // labels cannot live in unrecoverable localCheckpoint blocks
    var labels = materialize(
      docs.select(col("doc_id"), col("doc_id").as("canonical_id")))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIterations) {
      i += 1
      val neigh = adj
        .join(labels.select(col("doc_id").as("b_id"), col("canonical_id").as("b_can")), Seq("b_id"))
        .groupBy(col("a_id").as("doc_id"))
        .agg(min(col("b_can")).as("nmin"))
      // materialized: the compression step SELF-joins this frame, and an
      // unmaterialized self-join computes the neighbor join twice per pass
      // (round 12) — node-sized blocks, released with the generation below
      val stepped = materialize(labels.join(neigh, Seq("doc_id"), "left")
        .select(col("doc_id"), col("canonical_id").as("old"),
          least(col("canonical_id"), coalesce(col("nmin"), col("canonical_id"))).as("canonical_id")))
      // path compression: follow the label's own label (labels are doc ids,
      // so the self-join always resolves) — doubles the jump length per pass
      val next = stepped
        .join(stepped.select(col("doc_id").as("c_key"), col("canonical_id").as("c_val")),
          col("canonical_id") === col("c_key"), "left")
        .select(col("doc_id"), col("old"),
          least(col("canonical_id"), coalesce(col("c_val"), col("canonical_id"))).as("canonical_id"))
      // the heavy job: materialize this pass (checkpoint truncates lineage,
      // so next pass plans against a flat scan, not the whole loop history)
      val mat = materialize(next)
      // narrow block-scan over what was just materialized — no join, no
      // shuffle; `old` rides along precisely so this stays cheap
      changed = mat.filter(col("canonical_id") =!= col("old")).count()
      // the previous generation (and the intra-pass stepped frame) fed
      // `mat` and nothing else — free their blocks now instead of leaking
      // per pass until session end (the FINAL generation is returned,
      // never released here)
      CheckpointBlocks.release(stepped)
      CheckpointBlocks.release(labels)
      labels = mat.select("doc_id", "canonical_id")
    }
    labels
  }

  /** The deduped corpus: one survivor (min doc_id) per near-dup cluster. */
  def dedupSurvivors(
      docs: DataFrame,
      seeds: Int = 8,
      rowsPerBand: Int = 2,
      minMatch: Int = 6): DataFrame = {
    val keep = dedupMapping(docs, seeds, rowsPerBand, minMatch)
      .filter(col("doc_id") === col("canonical_id"))
      .select("doc_id")
    docs.join(keep, Seq("doc_id"), "left_semi")
  }
}
