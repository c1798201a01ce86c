package graft.operators

import graft.functions.{BloomProbe, SimHash, Text, TextSql, Vec, VecSql}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Materialize.MaterializeOps

/** Deduplication family (SURVEY §2 D).
  *
  * Scale posture: every query here is linear maps + keyed equi-joins — the
  * join keys are LSH band hashes (d2/d3/d6), Hamming-pigeonhole signature
  * blocks (d4), or hyperplane bucket ids (d5) — so pair counts stay
  * bounded by bucket occupancy; no all-pairs or broadcast-NLJ shapes.
  */
object Dedup {
  private type Q = (SparkSession, String) => DataFrame
  private val NumSigs = 9
  private val BandRows = 3
  private val NumBands = NumSigs / BandRows
  /** d4 contract radius over the 128-bit signature (measured: planted
    * near-dups sit at Hamming 2-20, random pairs at >= ~44).
    */
  val SimHashMaxHamming = 20
  val CosineThreshold = 0.4

  /** d1: exact dedup by normalized-text fingerprint → survivors per group. */
  def d1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", md5(Text.normText($"text")).as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).cast("long").as("n_docs"))
  }

  val d1Sql: String = s"""
    SELECT md5(${TextSql.norm}) AS fp, min(doc_id) AS keeper,
      CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY fp"""

  /** MinHash signatures + LSH band hashes per doc — signatures come from
    * the whole-array [[graft.functions.MinHashSigs]] kernel (one map-side
    * expression, no shingle explode / aggregate / exchange; the exploded
    * [[Text.minhashSig]] formulation remains the oracle's portable twin).
    */
  private def bandRows(s: SparkSession, dir: String): DataFrame =
    bandRowsOf(Tables.documents(s, dir))

  /** [[bandRows]] over any (doc_id, text) DataFrame. */
  private[graft] def bandRowsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sigs = docs
      .withColumn("toks", Text.tokens($"text"))
      .select($"doc_id",
        explode(graft.functions.ShingleSketches.minhash($"toks")).as("sigs"))
    val bandCols = (0 until NumBands).map { j =>
      md5(concat_ws("|", (0 until BandRows).map(r =>
        element_at($"sigs", BandRows * j + r + 1).cast("string")): _*))
    }
    sigs.select($"doc_id", posexplode(array(bandCols: _*)))
      .toDF("doc_id", "bi", "bh")
  }

  /** LSH candidate pairs (a_id < b_id), deduped across bands. The band
    * table is materialized once (localCheckpoint) — a naive self-join
    * would run the whole shingle→minhash pipeline twice.
    */
  def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    minhashCandidatesOf(Tables.documents(s, dir))

  /** [[minhashCandidates]] over any (doc_id, text) DataFrame — also the
    * scale spec's entry point for synthetic corpora.
    */
  def minhashCandidatesOf(docs: DataFrame): DataFrame = {
    val b = bandRowsOf(docs).localCheckpoint(true)
    val a = b.toDF("a_id", "bi", "bh")
    val x = b.toDF("b_id", "bi2", "bh2")
    a.join(x, a("bi") === x("bi2") && a("bh") === x("bh2") && a("a_id") < x("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** d2: MinHash + LSH banded candidate pairs. */
  def d2(s: SparkSession, dir: String): DataFrame = minhashCandidates(s, dir)

  val d2Sql: String = {
    val sigs = (0 until NumSigs).map { i =>
      s"min((u1 * ${Text.MinhashP1(i)} + u2 * ${Text.MinhashP2(i)} + $i) % ${Text.MinhashMod}) AS sig$i"
    }.mkString(", ")
    val bands = (0 until NumBands).map { j =>
      val parts = (0 until BandRows)
        .map(r => s"CAST(sig${BandRows * j + r} AS VARCHAR)").mkString("||'|'||")
      s"md5($parts) AS band$j"
    }.mkString(", ")
    val stack = (0 until NumBands)
      .map(j => s"SELECT doc_id, $j AS bi, band$j AS bh FROM band")
      .mkString(" UNION ALL ")
    s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest(${TextSql.shingles("toks")}) AS sh FROM tok),
    u AS (SELECT doc_id,
      CAST(('0x'||substring(md5(sh),1,8))::UBIGINT AS BIGINT) AS u1,
      CAST(('0x'||substring(md5(sh),9,8))::UBIGINT AS BIGINT) AS u2 FROM sh),
    sig AS (SELECT doc_id, $sigs FROM u GROUP BY doc_id),
    band AS (SELECT doc_id, $bands FROM sig),
    b AS ($stack)
    SELECT DISTINCT a.doc_id AS a_id, x.doc_id AS b_id
    FROM b a JOIN b x ON a.bi = x.bi AND a.bh = x.bh AND a.doc_id < x.doc_id"""
  }

  /** d3: exact 3-gram Jaccard over the LSH candidate set. */
  def d3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, dir)
      .withColumn("toks", Text.tokens($"text"))
      .select($"doc_id",
        array_distinct(Text.shingles($"toks")).as("shingles"))
    val cands = minhashCandidates(s, dir)
    cands
      .join(sh.toDF("a_id", "a_sh"), "a_id")
      .join(sh.toDF("b_id", "b_sh"), "b_id")
      .select($"a_id", $"b_id",
        round(size(array_intersect($"a_sh", $"b_sh")) * lit(1.0) /
          size(array_union($"a_sh", $"b_sh")), 6).as("jaccard"))
  }

  val d3Sql: String = s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    shl AS (SELECT doc_id, list_distinct(${TextSql.shingles("toks")}) AS shingles FROM tok),
    cand AS (${d2Sql})
    SELECT c.a_id, c.b_id,
      round(len(list_intersect(a.shingles, b.shingles)) * 1.0
            / len(list_distinct(a.shingles || b.shingles)), 6) AS jaccard
    FROM cand c JOIN shl a ON c.a_id = a.doc_id JOIN shl b ON c.b_id = b.doc_id"""

  /** Per-doc 128-bit shingle SimHash as four sign-safe 32-bit BIGINT
    * halves — computed by the native [[graft.functions.SimHashAgg]] (one
    * vote buffer per group; the 128-column expression form in [[SimHash]]
    * is the portable twin the oracle mirrors).
    */
  def simhashes(s: SparkSession, dir: String): DataFrame =
    simhashesOf(Tables.documents(s, dir))

  /** [[simhashes]] over any (doc_id, text) DataFrame — the whole-array
    * [[graft.functions.SimHash128]] kernel: signatures are a map-side
    * projection (no shingle explode / aggregate / exchange). The
    * [[graft.functions.SimHashAgg]] aggregate form stays as the portable
    * twin the oracle mirrors; both produce identical bits.
    */
  def simhashesOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", Text.tokens($"text"))
      .select($"doc_id",
        explode(graft.functions.ShingleSketches.simhash($"toks")).as("h"))
      .select(($"doc_id" +: (1 to SimHash.Halves).map(i =>
        col(s"h.h$i").as(s"h$i"))): _*)
  }

  /** d4: SimHash near-dup pairs at Hamming <= [[SimHashMaxHamming]] (of
    * 128 bits).
    *
    * Scale-safe candidate generation by multi-index Hashing
    * ([[SimHash.mihBlocks]]): the signature splits into 7 blocks of 18-19
    * bits; BOTH sides emit every probe value within Hamming <= 1 of each
    * block (via a broadcast join against the ~140-row mask table — data,
    * not expression-tree literals), and candidates come from the
    * *equi-join* on (block_idx, probe_value). Recall is exactly 1.0 for
    * Hamming <= 20: if all 7 blocks differed by >= 3 bits the total would
    * be >= 21, and a block differing in d <= 2 bits matches on some
    * (mask_a, mask_b) split of the xor ([[SimHash.symProbeMasks]]). A
    * random pair collides with probability ~0.4% — the join key is 18-19
    * bits wide, so candidate work is bounded by bucket occupancy, not
    * O(N^2) all-pairs. Exact Hamming then verifies each candidate.
    */
  def d4(s: SparkSession, dir: String): DataFrame =
    d4At(s, dir, SimHashMaxHamming)

  /** [[d4]] with an explicit Hamming radius (the block/probe layout is
    * derived from it; see [[SimHash.mihBlocks]]).
    */
  def d4At(s: SparkSession, dir: String, radius: Int): DataFrame =
    simhashPairs(simhashes(s, dir), radius)

  /** MIH candidate pairs pre-verification, WITH multiplicity (one row per
    * matching (block, mask_a, mask_b) split of the xor) and with both
    * signatures attached inline, over a MATERIALIZED (doc_id, h1..h4)
    * signature table. Carrying the 4 signature longs on the probe rows
    * (~2.3x wider exchange) is cheaper than two post-join signature-attach
    * joins — with symmetric probes the probe multiset is only
    * `(1 + width) * blocks` rows per doc, and each saved join is a whole
    * stage + codegen unit.
    */
  private def mihCandidatesRaw(sim: DataFrame, radius: Int): DataFrame = {
    val s = sim.sparkSession
    import s.implicits._
    val blocks = SimHash.mihBlocks(radius)
    val blkCols = blocks.zipWithIndex.map { case ((lo, w), i) =>
      struct(lit(i).as("bi"),
        SimHash.blockVal(h => col(s"h${h + 1}"), lo, w).as("bv"))
    }
    val masks = blocks.zipWithIndex.flatMap { case ((_, w), i) =>
      SimHash.symProbeMasks(w).map(m => (i, m))
    }
    val probes = sim
      .select($"doc_id", $"h1", $"h2", $"h3", $"h4",
        explode(array(blkCols: _*)).as("blk"))
      .join(broadcast(masks.toDF("bi", "mask")), $"blk.bi" === $"bi")
      .select($"doc_id", $"h1", $"h2", $"h3", $"h4", $"bi",
        $"blk.bv".bitwiseXOR($"mask").as("probe"))
    val a = probes.toDF("a_id", "a_h1", "a_h2", "a_h3", "a_h4", "bi", "probe")
    val b = probes.toDF("b_id", "b_h1", "b_h2", "b_h3", "b_h4", "bi2", "probe2")
    a.join(b, $"bi" === $"bi2" && $"probe" === $"probe2" && $"a_id" < $"b_id")
  }

  /** Distinct MIH candidate pairs over a precomputed signature table —
    * exposed so the scale spec can assert candidate counts stay
    * ~2^-blockWidth of all-pairs.
    */
  def simhashCandidates(sigs: DataFrame, radius: Int): DataFrame = {
    import sigs.sparkSession.implicits._
    mihCandidatesRaw(sigs.localCheckpoint(true), radius)
      .select($"a_id", $"b_id").distinct()
  }

  /** MIH candidate generation + exact-Hamming verify over a precomputed
    * (doc_id, h1..h4) signature table.
    *
    * Shape (round-11): ONE hash exchange of the probe multiset on its
    * (block, probe) bucket key, a Tungsten sort within partitions, and a
    * single streaming InternalRow pass that runs the pair loop over each
    * bucket's rows in primitive long arrays
    * ([[graft.functions.HammingPairs.bucketPairs]]). Measured at sf10
    * (500k docs): the old probe self-join's raw candidate output was
    * 1.13e9 rows (avg bucket occupancy ~29 over 2.36M buckets, max 188)
    * of which 25,307 pairs verify — it spent its time constructing wide
    * joined rows the Hamming filter immediately dropped, and shuffled
    * the 67.5M-row probe multiset TWICE (both self-join sides). Two
    * rejected alternatives, both measured: groupBy+collect_list+native
    * pair expression (collect_list devolves to sort-based aggregation
    * with per-group array building — 2x worse than the join) and a
    * typed Dataset[Tuple7] mapPartitions (7 boxed longs per probe row =
    * ~470M allocations). This plan does the same 1.1e9 XOR+popcount
    * probes at a few ns each with zero allocation for rejected pairs;
    * only VERIFIED pairs (x per-bucket multiplicity — tens of k rows)
    * reach the final distinct.
    */
  def simhashPairs(sigs: DataFrame, radius: Int): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val blocks = SimHash.mihBlocks(radius)
    val blkCols = blocks.zipWithIndex.map { case ((lo, w), i) =>
      struct(lit(i).as("bi"),
        SimHash.blockVal(h => col(s"h${h + 1}"), lo, w).as("bv"))
    }
    val masks = blocks.zipWithIndex.flatMap { case ((_, w), i) =>
      SimHash.symProbeMasks(w).map(m => (i, m))
    }
    // sigs are eagerly materialized once so the shingle->md5->agg
    // pipeline runs once, not per downstream stage
    val probes = sigs.localCheckpoint(true)
      .select($"doc_id", $"h1", $"h2", $"h3", $"h4",
        explode(array(blkCols: _*)).as("blk"))
      .join(broadcast(masks.toDF("bi", "mask")), $"blk.bi" === $"bi")
      .select($"bi", $"blk.bv".bitwiseXOR($"mask").as("probe"),
        $"doc_id", $"h1", $"h2", $"h3", $"h4")
    val sorted = probes
      .repartition($"bi", $"probe")
      .sortWithinPartitions($"bi", $"probe")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("b_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("hamming",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val pairs = org.apache.spark.sql.graft.bridge.internalRdd(sorted)
      .mapPartitions(graft.functions.HammingPairs.bucketPairs(_, radius))
    org.apache.spark.sql.graft.bridge
      .internalCreateDataFrame(s, pairs, schema)
      .distinct()
  }

  val d4Sql: String = {
    val votes = SimHash.voteAggsSql("sh").mkString(", ")
    val halves = (0 until SimHash.Halves).map(h =>
      s"${SimHash.halfSql(32 * h, 32 * h + 32, 32 * h + 31)} AS h${h + 1}")
      .mkString(",\n            ")
    val ham = (1 to SimHash.Halves)
      .map(i => s"bit_count(xor(a.h$i, b.h$i))").mkString(" + ")
    s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    tkn AS (SELECT doc_id, unnest(list_distinct(${TextSql.shingles("toks")})) AS sh FROM tok),
    v AS (SELECT doc_id, $votes FROM tkn GROUP BY doc_id),
    sim AS (SELECT doc_id, $halves FROM v)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      CAST($ham AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE $ham <= $SimHashMaxHamming"""
  }

  /** d5: embedding-cosine near-dup pairs, LSH-gated: candidates share a
    * random-hyperplane bucket up to Hamming 2 (the same deterministic
    * md5-derived planes as [[Similarity.s2]]), then exact cosine verifies
    * each candidate. The plane count grows with the corpus
    * ([[d5Planes]] ~ log2(N)), so bucket occupancy — and
    * with it the candidate fraction — stays ~flat instead of a fixed
    * 64-bucket space emitting ~1/3 of all pairs. Candidates come from a
    * symmetric one-flip probe equi-join (both sides emit `bucket ^ mask`
    * for the p+1 masks of Hamming <= 1: a pair at bucket-Hamming d <= 2
    * matches on some split of the xor, exactly d4's
    * [[SimHash.symProbeMasks]] argument), then pairs are distinct-ed at
    * candidate scale BEFORE the 64-dim cosine work and the embeddings
    * re-attach by id. The DuckDB oracle reproduces the identical bucket
    * ids (per-row IEEE dot products are bitwise-equal across engines), so
    * the gate stays a full hash match.
    */
  /** d5's plane count: occupancy target 1 (smallest p >= 6 with
    * 2^p >= N) — two planes more than [[Similarity.numPlanes]]'s
    * occupancy-4 at any corpus size. The pair-join is quadratic in
    * bucket occupancy, so d5 wants much tighter buckets than the
    * query-side-bounded s2: at occupancy 1 the candidate fraction stays
    * under 0.5% of all-pairs even at the worst power-of-two boundary
    * (measured 0.27% at 50.5k vectors, ScaleProbeSpec). The cost is a
    * mild per-pair recall dip (~7% at cos 0.9 per extra plane — a true
    * near-dup pair must still land within bucket Hamming 2); the spec's
    * planted-twin floor guards it. Same integer threshold form as s2's,
    * so the oracle mirrors it as exact CASE arms.
    */
  def d5Planes(n: Long): Int = {
    var p = 6
    while (p < Similarity.MaxPlanes && (1L << p) < n) p += 1
    p
  }

  def d5(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.embeddings(s, dir)
    d5Of(e0, d5Planes(e0.count()))
  }

  /** MATERIALIZED (vec_id, embedding, bucket) table for [[d5]]'s plane
    * set — also the scale spec's entry point for synthetic corpora.
    */
  def d5BucketsOf(emb: DataFrame, planes: Int): DataFrame = {
    import emb.sparkSession.implicits._
    // parallelized: the frozen bucket layout feeds the probe explode and
    // both sides of the candidate join (Materialize.parallelized)
    graft.plans.Materialize.parallelized(
      emb.select($"vec_id", $"embedding",
        Similarity.bucketCol($"embedding", 0, planes).as("bucket")))
      .localCheckpoint(true)
  }

  /** [[d5]] over any (vec_id, embedding) DataFrame with an explicit plane
    * count — the scale spec drives this with synthetic corpora.
    */
  def d5Of(emb: DataFrame, planes: Int): DataFrame = {
    import emb.sparkSession.implicits._
    d5ScoredPairsOf(emb, planes).filter($"cos" >= CosineThreshold)
  }

  /** All bucket-gated scored pairs WITHOUT the cosine threshold — the
    * Spark twin of [[d5ScoredPairsSql]], shared by [[d5Of]] and
    * [[Similarity.s4]]'s kNN join.
    */
  private[graft] def d5ScoredPairsOf(emb: DataFrame, planes: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val e = d5BucketsOf(emb, planes)
    // Same-bucket pairs are scored INSIDE the bucket self-join: each
    // side shuffles N (vec_id, bucket, embedding) rows — ~1 GB at sf100
    // — and the cosine is a projection on the join output, so no
    // pair-sized row ever carries an embedding. The previous form
    // generated narrow pairs first and joined embeddings back per pair:
    // on replica-clustered corpora the pair set is answer-quadratic
    // (521M at sf100) and the second fetch join shuffled ~500 GB of
    // embedding payload — past the box's disk. Near pairs (Hamming 1–2,
    // the small class) still fetch by id.
    val sb = e.select($"vec_id", $"bucket", $"embedding")
    val same = sb.toDF("a_id", "bkt", "a_emb")
      .join(sb.toDF("b_id", "bkt2", "b_emb"),
        $"bkt" === $"bkt2" && $"a_id" < $"b_id")
      .select($"a_id", $"b_id",
        round(Vec.cosineFast($"a_emb", $"b_emb"), 6).as("cos"))
    // Near pairs (Hamming 1–2) score inline at the probe join as well:
    // the embedding rides the ×(planes+1) probe explode — bounded at
    // (planes+1)·N rows per side, ~13 GB at sf100 — and the join output
    // is already the narrow (a_id, b_id, cos) row. The id-fetch
    // alternative attaches embeddings to PAIR-cardinality rows, and on
    // replica-clustered corpora the near class is the dominant one
    // (518M of sf100's 521M candidates: the salt mutations flip 1–2
    // sign bits), so the fetch join shuffled ~270 GB and died on disk.
    // SHUFFLE_HASH keeps the two probe-sized sides from being sorted.
    val masks = (0 +: (0 until planes).map(1 << _)).map(lit)
    val probes = e.select($"vec_id", $"bucket", $"embedding",
        posexplode(array(masks.map($"bucket".bitwiseXOR(_)): _*)))
      .toDF("vec_id", "bkt", "emb", "mi", "probe")
    val nearScored = probes.toDF("a_id", "bkt", "a_emb", "mi", "probe")
      .hint("shuffle_hash")
      .join(probes.toDF("b_id", "bkt2", "b_emb", "mj", "probe2"),
        $"probe" === $"probe2" && $"bkt" =!= $"bkt2" &&
          $"a_id" < $"b_id" && $"mi" < $"mj")
      .select($"a_id", $"b_id",
        round(Vec.cosineFast($"a_emb", $"b_emb"), 6).as("cos"))
    same.unionByName(nearScored)
  }

  /** Distinct bucket-Hamming<=2 candidate pairs over a MATERIALIZED
    * (vec_id, embedding, bucket) table — exposed for the scale spec's
    * candidate-fraction assertion.
    */
  def d5CandidatesOf(e: DataFrame, planes: Int): DataFrame = {
    import e.sparkSession.implicits._
    // Hamming-0 (same bucket) pairs via DIRECT bucket equality — one
    // emission per pair. The previous form ran one {0,bit}×{0,bit}
    // probe join for all distances, which emits every same-bucket pair
    // planes+1 times into the distinct (masks match whenever m1 = m2);
    // same-bucket pairs are the dominant class on replica-clustered
    // corpora, and at sf100 (2M vectors, ~2000-strong clusters) the
    // distinct's input was ~11G rows — 22× the answer — which overflowed
    // the box's disk. Split by distance, each pair is emitted once
    // (d=0) or twice (d∈{1,2}: (0,e_d)/(e_d,0) or (e_i,e_j)/(e_j,e_i)),
    // the two branches are disjoint by the bucket-inequality guard, and
    // the result set is bit-identical to the old join.
    val b = e.select($"vec_id", $"bucket")
    val same = b.toDF("a_id", "bkt").join(b.toDF("b_id", "bkt2"),
        $"bkt" === $"bkt2" && $"a_id" < $"b_id")
      .select($"a_id", $"b_id")
    same.unionByName(nearCandidatesOf(e, planes))
  }

  /** The Hamming-1/2 slice of [[d5CandidatesOf]] (bucket-inequality
    * guard excludes same-bucket pairs), emitted EXACTLY ONCE per pair —
    * no distinct. A Hamming-d pair matches under exactly two mask
    * combos ((0,e_d)/(e_d,0) for d=1, (e_i,e_j)/(e_j,e_i) for d=2), so
    * carrying the mask ordinal and requiring mi < mj keeps one of the
    * two. The previous distinct() shuffled the full pre-dedup pair
    * stream on UNIQUE keys — no map-side collapse possible, ~800M rows
    * at sf100, and its sort-fallback spill was what still overflowed
    * the box's disk after the same-bucket fix. Shared by the
    * scored-pair generator, which scores this class by id-fetch while
    * same-bucket pairs score inside the bucket join.
    */
  private[graft] def nearCandidatesOf(e: DataFrame, planes: Int): DataFrame = {
    import e.sparkSession.implicits._
    val masks = (0 +: (0 until planes).map(1 << _)).map(lit)
    val probes = e.select($"vec_id", $"bucket",
      posexplode(array(masks.map($"bucket".bitwiseXOR(_)): _*)))
      .toDF("vec_id", "bkt", "mi", "probe")
    val a = probes.toDF("a_id", "bkt", "mi", "probe")
    val c = probes.toDF("b_id", "bkt2", "mj", "probe2")
    a.join(c,
        $"probe" === $"probe2" && $"bkt" =!= $"bkt2" &&
          $"a_id" < $"b_id" && $"mi" < $"mj")
      .select($"a_id", $"b_id")
  }

  /** Thresholded near-dup pairs over the shared bucket-gated scored-pair
    * generator ([[Similarity.d5ScoredPairsSql]] — lives in Similarity so
    * the Dedup→Similarity object-init dependency stays one-directional).
    */
  val d5Sql: String =
    s"""SELECT a_id, b_id, cos FROM (${Similarity.d5ScoredPairsSql}) sp
    WHERE cos >= $CosineThreshold"""

  /** d6: dedup groups — connected components over the LSH near-dup pairs
    * (every doc labeled with the smallest doc_id reachable through
    * near-dup edges; singletons label themselves), via [[componentsOf]].
    */
  def d6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = minhashCandidates(s, dir)
    val labels = componentsOf(pairs) // checkpoints + sizes the graph itself
    // singletons label themselves; the dup-graph labels join back over
    // the corpus (AQE broadcasts the checkpointed label table whenever
    // the dup graph is small — the common case — and falls back to a
    // shuffle join only when dup density genuinely warrants it)
    Tables.documents(s, dir).select($"doc_id")
      .join(labels.withColumnRenamed("group_id", "g"),
        Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"g", $"doc_id").as("group_id"))
  }

  /** Edge-count ceiling for the driver union-find path of [[componentsOf]]:
    * 4M pairs = 64 MB of longs, under broadcast-table size and a fraction
    * of any driver heap. The LSH and cosine candidate graphs of d6/d11
    * stay far under it at every gate SF, and TxnEngine's component fold
    * gates its own [[unionFind]] by it. Past it the distributed loop
    * runs: the shape that holds when the pair list itself is
    * cluster-sized.
    */
  val LocalComponentsMaxEdges = 4000000L

  /** Min-label connected components over an undirected pair list
    * (`a_id`, `b_id`): every vertex appearing in some pair is labeled
    * with the smallest id reachable through the pairs. Returns
    * `(doc_id, group_id)` for the edge-induced vertex set ONLY (callers
    * left-join the corpus so untouched rows never enter it). Shared by
    * [[d6]] (text near-dup groups) and [[d11]] (embedding-space
    * components). Two paths, one result:
    *  - at most `maxLocalEdges` pairs: the driver [[unionFind]], one
    *    bounded collect;
    *  - past it: distributed min-label propagation with a
    *    pointer-doubling shortcut each round, O(log diameter) rounds each
    *    shuffling O(edges), until no label moves; a loop that has not
    *    converged after 25 rounds throws rather than return wrong labels.
    */
  def componentsOf(pairs: DataFrame,
      maxLocalEdges: Long = LocalComponentsMaxEdges): DataFrame = {
    import pairs.sparkSession.implicits._
    val p = pairs.localCheckpoint(true)
    if (p.count() <= maxLocalEdges) return componentsLocal(p)
    // the STATIC symmetric edge frame is hash-partitioned on src once —
    // checkpoints preserve outputPartitioning, so every round's
    // edges⋈labels join plans with NO exchange of the (biggest) edge side
    val edges = p
      .select($"a_id".as("src"), $"b_id".as("dst"))
      .union(p.select($"b_id".as("src"), $"a_id".as("dst")))
      .repartition($"src")
      .localCheckpoint(true)
    var labels = edges
      .select($"src".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("group_id"))
      .localCheckpoint(true)
    var converged = labels.isEmpty
    var rounds = 0
    val maxRounds = 25 // log2(diameter) rounds suffice; 2^25 ≫ any corpus
    while (!converged && rounds < maxRounds) {
      val viaEdges = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy($"dst".as("doc_id"))
        .agg(min($"group_id").as("n_group"))
      // `old` rides along so convergence needs no extra join below
      val prop = labels.join(viaEdges, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"group_id".as("old"),
          least(coalesce($"n_group", $"group_id"), $"group_id")
            .as("group_id"))
      // pointer doubling: every label is itself a doc_id, so jump to the
      // label's label (always <= the label) — halves remaining chain
      // depth. ONE checkpoint per round: prop is recomputed once inside
      // the self-join instead of paying a second checkpoint barrier
      val next = prop.join(
          prop.select($"doc_id".as("group_id"), $"group_id".as("gg")),
          Seq("group_id"), "left_outer")
        .select($"doc_id", $"old", coalesce($"gg", $"group_id").as("group_id"))
        .materialize
      converged = next.filter($"group_id" =!= $"old").isEmpty
      labels = next.select($"doc_id", $"group_id")
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"label propagation did not converge within $maxRounds rounds; " +
        "component labels would be incorrect")
    labels
  }

  /** [[unionFind]] as a `(doc_id, group_id)` frame. */
  private def componentsLocal(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    unionFind(pairs).toSeq.sortBy(_._1).toDF("doc_id", "group_id")
  }

  /** Driver union-find over a small (`a_id`, `b_id`) edge list (callers
    * gate it by [[LocalComponentsMaxEdges]]): union-by-min keeps every
    * root the smallest id of its component, so the returned vertex →
    * root map IS the min-label over the edge-induced vertex set, for one
    * bounded collect. The local path of [[componentsOf]]; also
    * TxnEngine's component fold, which reads its census off the map.
    */
  private[graft] def unionFind(pairs: DataFrame)
      : scala.collection.mutable.LongMap[Long] = {
    import pairs.sparkSession.implicits._
    val es = pairs.select($"a_id", $"b_id").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // full path compression: afterwards every vertex points at its root
    parent.keys.toArray.foreach(find)
    parent
  }

  /** Unroll depth for the components oracles: relax+double reaches
    * diameter 2^k in k rounds, so 8 covers diameter 256 — far beyond any
    * near-dup cluster the planted corpora (or a real one) produce. The
    * Spark side converges-or-throws at 25 doubling rounds; an unconverged
    * oracle shows up as a hash mismatch, never a silent pass.
    */
  val CompOracleRounds = 8

  /** The [[componentsOf]] algorithm as oracle SQL — `cand` (a_id, b_id)
    * must be in scope; yields CTE `comp` = (id, lab) over the
    * edge-induced vertex set. Each round is one min-relaxation over the
    * edges plus one pointer-doubling self-join, unrolled
    * [[CompOracleRounds]] times (the s3 Lloyd-unroll pattern): working
    * state is ONE ROW PER VERTEX per round — linear in edges — where the
    * previous recursive-CTE `reach` oracle materialized every
    * (vertex, reachable-label) pair, O(Σ component²) rows. A keyed
    * recursive iteration would express this directly, but needs
    * DuckDB ≥ 1.3 (`USING KEY`); this form is exact on 1.0.
    */
  private def componentsSql: String = {
    // MATERIALIZED is load-bearing: DuckDB inlines CTEs by default, so an
    // un-materialized `edges` would be re-expanded (re-reading the corpus
    // through the whole cand pipeline) once per unrolled round
    val sb = new StringBuilder
    sb ++= """
    edges AS MATERIALIZED (
      SELECT a_id AS src, b_id AS dst FROM cand
      UNION ALL SELECT b_id, a_id FROM cand),
    cl0 AS (SELECT DISTINCT src AS id, src AS lab FROM edges)"""
    for (k <- 1 to CompOracleRounds) {
      val prev = if (k == 1) "cl0" else s"cd${k - 1}"
      sb ++= s""",
    cr$k AS (SELECT e.dst AS id, min(l.lab) AS lab
      FROM edges e JOIN $prev l ON e.src = l.id GROUP BY e.dst),
    cx$k AS MATERIALIZED (SELECT l.id, least(l.lab, COALESCE(r.lab, l.lab)) AS lab
      FROM $prev l LEFT JOIN cr$k r USING (id)),
    cd$k AS MATERIALIZED (SELECT a.id, COALESCE(b.lab, a.lab) AS lab
      FROM cx$k a LEFT JOIN cx$k b ON a.lab = b.id)"""
    }
    sb ++= s""",
    comp AS (SELECT id, lab FROM cd$CompOracleRounds)"""
    sb.toString
  }

  val d6Sql: String = s"""
    WITH cand AS MATERIALIZED (${d2Sql}),${componentsSql}
    SELECT doc.doc_id, CAST(COALESCE(l.lab, doc.doc_id) AS BIGINT) AS group_id
    FROM documents doc LEFT JOIN comp l ON doc.doc_id = l.id"""

  /** d7: exact segment-level dedup — non-overlapping 8-token windows
    * hashed and counted across documents; a segment appearing in >= 2
    * distinct docs is boilerplate / copied text (the segment-granularity
    * exact dedup LLM pipelines run next to document-level d1). Linear:
    * explode + one hash-groupBy, no joins.
    */
  val SegTokens = 8
  def d7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nseg = (size($"toks") / lit(SegTokens)).cast("int")
    val segs = when(size($"toks") >= SegTokens,
      transform(sequence(lit(0), nseg - 1),
        i => concat_ws(" ", slice($"toks", i * SegTokens + 1, lit(SegTokens)))))
      .otherwise(array().cast("array<string>"))
    Tables.documents(s, dir)
      .withColumn("toks", Text.tokens($"text"))
      .select($"doc_id", explode(segs).as("seg"))
      .groupBy(md5($"seg").as("seg_md5"))
      .agg(countDistinct($"doc_id").cast("long").as("n_docs"),
        min($"doc_id").as("first_doc"))
      .filter($"n_docs" >= 2)
  }

  val d7Sql: String = s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    seg AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= $SegTokens THEN
        list_transform(range(0, CAST(len(toks) // $SegTokens AS INT)),
          i -> array_to_string(toks[i*$SegTokens+1 : i*$SegTokens+$SegTokens], ' '))
      ELSE [] END) AS seg FROM tok)
    SELECT md5(seg) AS seg_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      min(doc_id) AS first_doc
    FROM seg GROUP BY seg_md5 HAVING count(DISTINCT doc_id) >= 2"""

  /** d8: benchmark decontamination — training docs that share word
    * 5-grams with the held-out eval set (the lowest [[EvalDocs]] doc_ids,
    * the same docs a real pipeline would quarantine before training).
    * The eval 5-gram set is tiny and broadcast; training docs join it on
    * the shingle hash (linear, no shuffle of the corpus side beyond the
    * per-doc aggregate), and every train doc is emitted with its overlap
    * count + contaminated flag.
    */
  val EvalDocs = 25L
  val ContamThreshold = 3L
  def d8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the shingle+md5 stage is the expensive part and feeds both sides of
    // the overlap join — materialize it once, lazily: an eager checkpoint
    // would run the full shingle scan at plan-construction time (schema
    // checks, dry runs), so defer it to the first real action
    // per-shingle rows (~1 per token at sf100) — serialized storage,
    // the d13/t14 re-inflation class
    val grams = graft.plans.Materialize.wideCheckpoint(
      Tables.documents(s, dir)
        .withColumn("toks", Text.tokens($"text"))
        .select($"doc_id",
          explode(array_distinct(Text.shingles($"toks", 5))).as("g"))
        .select($"doc_id", md5($"g").as("gh")))
    val evalSet = grams.filter($"doc_id" < EvalDocs)
      .select($"gh").distinct()
    val overlap = grams.filter($"doc_id" >= EvalDocs)
      .join(broadcast(evalSet), "gh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"))
    Tables.documents(s, dir)
      .filter($"doc_id" >= EvalDocs)
      .select($"doc_id")
      .join(overlap, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        coalesce($"n_shared", lit(0L)).as("n_shared"))
      .withColumn("contaminated", $"n_shared" >= ContamThreshold)
  }

  val d8Sql: String = s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    g AS (SELECT doc_id, md5(unnest(list_distinct(${TextSql.shingles("toks", 5)}))) AS gh
          FROM tok),
    ev AS (SELECT DISTINCT gh FROM g WHERE doc_id < $EvalDocs),
    ov AS (
      SELECT g.doc_id, count(*) AS n_shared
      FROM g JOIN ev USING (gh) WHERE g.doc_id >= $EvalDocs
      GROUP BY g.doc_id)
    SELECT d.doc_id, COALESCE(ov.n_shared, 0) AS n_shared,
      COALESCE(ov.n_shared, 0) >= $ContamThreshold AS contaminated
    FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
    WHERE d.doc_id >= $EvalDocs"""

  private type QM = Map[String, Q]
  /** Doc-id boundary between the "existing corpus" and the "arriving
    * batch" halves of the gate table, and the verify threshold, for d9.
    */
  val IncrSplit = 250L
  val IncrJaccard = 0.8

  /** d9: incremental ingest dedup — an ARRIVING batch (doc_id >=
    * [[IncrSplit]]) checked against the EXISTING corpus (doc_id <
    * [[IncrSplit]]) through the banded MinHash index, exact-Jaccard
    * verified, each new doc reporting its best existing match (highest
    * jaccard, ties to the lowest corpus id). This is the steady-state
    * 100 TB dedup shape: the corpus band table is a persisted index the
    * pipeline maintains; each ingest batch band-joins against it
    * (bucketed equi-join on (band_idx, band_hash)) instead of
    * re-pairing the whole corpus, so per-batch cost ~ batch x occupancy.
    */
  def d9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // checkpointed so the corpus and fresh halves below share ONE
    // tokenize→minhash→band scan; it materializes when cand's eager
    // checkpoint first runs it
    val bands = bandRowsOf(docs).localCheckpoint(false)
    val corpus = bands.filter($"doc_id" < IncrSplit).toDF("a_id", "bi", "bh")
    val fresh = bands.filter($"doc_id" >= IncrSplit).toDF("b_id", "bi2", "bh2")
    // eager: cand feeds the verify join AND the id restriction below —
    // without the checkpoint the band join would run three times. This
    // deliberately makes d9() CONSTRUCTION run the band scan + candidate
    // join (plan building here is not lazy; callers that only want to
    // explain the verify plan pay the scan once)
    val cand = corpus.join(fresh,
        $"bi" === $"bi2" && $"bh" === $"bh2")
      .select($"a_id", $"b_id").distinct().localCheckpoint(true)
    // shingle sets ONLY for docs that appear in a candidate pair: the
    // exact-jaccard verify needs |candidate-ids| shingle arrays, not a
    // second full tokenize+shingle pass over the corpus (the round-11
    // G10Anatomy probe, since removed; recorded in SURVEY.md's round-11
    // status — at sf10 the full-batch shingle-set build cost 9.9 s against 23
    // actual candidates — the restricted build is the per-batch ~
    // |batch|-independent verify cost the scaladoc promises)
    val needed = cand.select($"a_id".as("doc_id"))
      .union(cand.select($"b_id".as("doc_id"))).distinct()
    val sh = graft.plans.Materialize.wideCheckpoint(
      docs.join(graft.plans.Hints.maybeBroadcast(needed), "doc_id")
        .withColumn("toks", Text.tokens($"text"))
        .select($"doc_id",
          array_distinct(Text.shingles($"toks")).as("shingles")))
    val scored = cand
      .join(sh.toDF("a_id", "a_sh"), "a_id")
      .join(sh.toDF("b_id", "b_sh"), "b_id")
      .select($"b_id".as("doc_id"), $"a_id".as("dup_of"),
        round(size(array_intersect($"a_sh", $"b_sh")) * lit(1.0) /
          size(array_union($"a_sh", $"b_sh")), 6).as("jaccard"))
      .filter($"jaccard" >= IncrJaccard)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"jaccard".desc, $"dup_of")
    scored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
  }

  val d9Sql: String = s"""
    WITH pairs AS (${d3Sql})
    SELECT doc_id, dup_of, jaccard FROM (
      SELECT b_id AS doc_id, a_id AS dup_of, jaccard,
        row_number() OVER (PARTITION BY b_id
          ORDER BY jaccard DESC, a_id) AS rn
      FROM pairs
      WHERE a_id < $IncrSplit AND b_id >= $IncrSplit
        AND jaccard >= $IncrJaccard) z
    WHERE rn = 1"""

  /** d10: canonical-document selection — the KEEP decision a dedup
    * pipeline runs after grouping: within every multi-member [[d6]] dup
    * group, keep the member with the highest [[TextOps.t2]] quality
    * score (ties to the lowest doc_id) and report the group size. The
    * corpus-wide work is d6 + t2 (both linear); the ranking window runs
    * only over members of multi-member groups — the (tiny) dup graph —
    * after a broadcast semi-reduction, so no corpus-sized window state.
    */
  def d10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = d6(s, dir)
    val multi = groups.groupBy($"group_id")
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .filter($"n_docs" >= 2)
    val quality = TextOps.t2(s, dir).select($"doc_id", $"quality")
    val members = groups.join(broadcast(multi), "group_id")
      .join(quality, "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"group_id").orderBy($"quality".desc, $"doc_id")
    members.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"group_id", $"doc_id".as("keep_doc"),
        $"quality".as("keep_quality"), $"n_docs")
  }

  val d10Sql: String = s"""
    WITH g AS (${d6Sql}),
    q AS (${TextOps.t2Sql}),
    multi AS (
      SELECT group_id, CAST(count(*) AS BIGINT) AS n_docs
      FROM g GROUP BY group_id HAVING count(*) >= 2)
    SELECT group_id, keep_doc, keep_quality, n_docs FROM (
      SELECT m.group_id, g.doc_id AS keep_doc, q.quality AS keep_quality,
        m.n_docs,
        row_number() OVER (PARTITION BY m.group_id
          ORDER BY q.quality DESC, g.doc_id) AS rn
      FROM multi m JOIN g USING (group_id) JOIN q USING (doc_id)) z
    WHERE rn = 1"""

  /** d11: semantic dedup DECISION over the embedding corpus (the
    * SemDeDup shape: embedding-space near-duplicates collapse to one
    * representative): connected components over [[d5]]'s
    * cosine >= [[CosineThreshold]] pairs, each vector labeled with its
    * component representative (smallest vec_id) and a keep flag.
    * Singletons keep themselves. Components run on the near-dup graph
    * only; the corpus-wide step is one left join — the same 100 TB
    * shape as [[d6]]/[[d10]] but over embedding geometry instead of
    * text shingles.
    */
  def d11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = d5(s, dir).select($"a_id", $"b_id")
    val labels = componentsOf(pairs) // checkpoints + sizes the graph itself
    Tables.embeddings(s, dir).select($"vec_id")
      .join(labels.toDF("vec_id", "g"), Seq("vec_id"), "left_outer")
      .select($"vec_id", coalesce($"g", $"vec_id").as("rep_id"))
      .withColumn("keep", $"vec_id" === $"rep_id")
  }

  val d11Sql: String = s"""
    WITH cand AS MATERIALIZED (${d5Sql}),${componentsSql}
    SELECT emb.vec_id, CAST(COALESCE(l.lab, emb.vec_id) AS BIGINT) AS rep_id,
      COALESCE(l.lab, emb.vec_id) = emb.vec_id AS keep
    FROM embeddings emb LEFT JOIN comp l ON emb.vec_id = l.id"""

  /** d12: the REWRITE step — the artifact the dedup family actually
    * ships: each document's token stream with [[d7]]'s cross-doc
    * boilerplate segments struck out. Every doc re-derives its
    * non-overlapping [[SegTokens]]-token segments (the d7 windows), drops
    * the ones whose hash appears in >= 2 distinct docs, and re-assembles
    * the survivors in position order plus the (never-counted) < 8-token
    * tail. Emits one row per doc: kept token count + an md5 digest of the
    * cleaned text (the gate-friendly stand-in for writing the cleaned
    * corpus column itself). All linear: one tokenize scan, one
    * segment-hash anti-join (AQE broadcasts the boilerplate side when
    * it's small), one per-doc re-assembly aggregate — no all-pairs
    * anything, the 100 TB rewrite shape.
    */
  def d12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val boiler = d7(s, dir).select($"seg_md5")
    val nseg = (size($"toks") / lit(SegTokens)).cast("int")
    // segment STRINGS ride this checkpoint — serialized storage (the
    // d13/t14 re-inflation class)
    val base = graft.plans.Materialize.wideCheckpoint(
      Tables.documents(s, dir)
        .withColumn("toks", Text.tokens($"text"))
        .select($"doc_id", nseg.as("nseg"), size($"toks").as("ntok"),
          when(nseg > 0, transform(sequence(lit(0), nseg - 1),
              i => struct(i.as("i"), concat_ws(" ",
                slice($"toks", i * SegTokens + 1, lit(SegTokens))).as("seg"))))
            .otherwise(array().cast("array<struct<i:int,seg:string>>"))
            .as("segs"),
          concat_ws(" ",
            slice($"toks", nseg * SegTokens + 1,
              size($"toks") - nseg * SegTokens)).as("tail")))
      // the tokenize+segment scan feeds both the explode and the final
      // re-assembly join — one corpus read, materialized lazily
    val kept = base
      .select($"doc_id", explode($"segs").as("s"))
      .select($"doc_id", $"s.i".as("i"), $"s.seg".as("seg"))
      .join(boiler, md5($"seg") === $"seg_md5", "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct($"i", $"seg"))),
          x => x.getField("seg")), " ").as("seg_text"))
    base.join(kept, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        (coalesce($"n_kept", lit(0L)) * SegTokens +
          ($"ntok" - $"nseg" * SegTokens)).cast("long").as("kept_token_count"),
        md5(trim(concat_ws(" ",
          coalesce($"seg_text", lit("")), $"tail"))).as("cleaned_md5"))
  }

  val d12Sql: String = s"""
    WITH boiler AS MATERIALIZED (SELECT seg_md5 FROM (${d7Sql})),
    tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    base AS MATERIALIZED (SELECT doc_id, toks,
      CAST(len(toks) // $SegTokens AS INT) AS nseg,
      CAST(len(toks) AS BIGINT) AS ntok FROM tok),
    seg AS (SELECT doc_id,
      unnest(list_transform(range(0, nseg), i -> struct_pack(i := i,
        seg := array_to_string(
          toks[i*$SegTokens+1 : i*$SegTokens+$SegTokens], ' ')))) AS u
      FROM base),
    kept AS (
      SELECT doc_id, count(*) AS n_kept,
        string_agg(u.seg, ' ' ORDER BY u.i) AS seg_text
      FROM seg WHERE md5(u.seg) NOT IN (SELECT seg_md5 FROM boiler)
      GROUP BY doc_id)
    SELECT b.doc_id,
      CAST(COALESCE(k.n_kept, 0) * $SegTokens
        + (b.ntok - b.nseg * $SegTokens) AS BIGINT) AS kept_token_count,
      md5(trim(COALESCE(k.seg_text, '') ||
        CASE WHEN b.ntok - b.nseg * $SegTokens > 0
          THEN ' ' || array_to_string(b.toks[b.nseg*$SegTokens+1 : ], ' ')
          ELSE '' END)) AS cleaned_md5
    FROM base b LEFT JOIN kept k USING (doc_id)"""

  /** d13: SPAN-level exact substring dedup — the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" (ACL'22) shape, which
    * [[d7]]'s non-overlapping segments can only approximate: every
    * OVERLAPPING [[SegTokens]]-token window (stride 1) is hashed; a window
    * whose hash occurs >= 2 times anywhere in the corpus (cross-doc OR
    * within-doc) marks its tokens as duplicated text, and per document the
    * covered positions merge into maximal duplicated SPANS (two windows
    * merge iff their coverage overlaps or touches, i.e. start gap <=
    * [[SegTokens]] — every consecutive pair inside an island then overlaps
    * or abuts, so the union is one contiguous interval of
    * `max_p - min_p + SegTokens` tokens). Emits per doc: span count,
    * duplicated-token count, longest span and duplicated fraction — the
    * signal the pipeline thresholds to drop or trim documents.
    *
    * Scale shape: one tokenize scan (~ntok windows/doc, still linear),
    * one hash-groupBy for the occurrence counts, one equi-join back on
    * the window hash, and the island merge windows partition by doc_id
    * (high-cardinality) — no all-pairs, no global sort, the suffix-array
    * result computed with pure data-parallel ops.
    *
    * Window hashing is [[graft.functions.WindowPolyHash]] — a native
    * codegen expression, not an md5 per window: each token is digested
    * ONCE (h1/h2 = independent sub-2^31 universal hashes of its md5
    * words, packed `h1<<31 | h2`), and each stride-1 window folds its
    * [[SegTokens]] packed words with two parallel `acc*B + h mod M`
    * chains — pure 64-bit arithmetic, exact in both engines
    * (intermediates < 2^62, replayed by the oracle's `list_reduce`
    * twin). The md5-per-window version this replaces built a ~50-char
    * string AND ran a full digest for every window. The window key is
    * one BIGINT (62 effective bits) instead of a 32-char hex string, so
    * the dup-count groupBy and the join back ship 8-byte keys. 62-bit
    * false-dup odds: ~n²/2^63 pairs — at 10^10 windows (a ~TB corpus
    * shard) that is ~1% of windows flagged spuriously, the same order
    * as Lee et al.'s 64-bit fingerprints; the thresholded per-doc
    * SIGNAL (dup fraction over >= k-token spans) is insensitive to
    * isolated false windows.
    */
  def d13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val k = SegTokens
    // ONE tokenize scan → ONE serialized checkpoint of the exploded
    // window stream (~1G primitive rows at sf100 — serialized because
    // the deserialized default OOM'd an 80 GB heap re-inflating spilled
    // partitions; the t14 class). posexplode_outer keeps a null-window
    // row for docs shorter than k and `ntok` rides every row, so the
    // final per-doc spine is a FILTER over this same checkpoint (p = 0
    // or null picks each doc exactly once) instead of a second
    // array-payload checkpoint deserialized per consumer — the round-13
    // 2× re-read tax, halved by never storing the whs arrays at all.
    val wins = graft.plans.Materialize.wideCheckpoint(
      Tables.documents(s, dir)
        .withColumn("toks", Text.tokens($"text"))
        .select($"doc_id", size($"toks").cast("long").as("ntok"),
          graft.functions.WindowPolyHash($"toks", k).as("whs"))
        .select($"doc_id", $"ntok", posexplode_outer($"whs"))
        .toDF("doc_id", "ntok", "p", "wh"))
    val dupHash = wins.filter($"wh".isNotNull).groupBy($"wh")
      .agg(count(lit(1)).as("n")).filter($"n" >= 2).select($"wh")
    val w = Window.partitionBy($"doc_id").orderBy($"p")
    val isl = wins.join(dupHash, "wh")
      .select($"doc_id", $"p")
      .withColumn("gap",
        when(lag($"p", 1).over(w).isNull ||
          $"p" - lag($"p", 1).over(w) > k, 1).otherwise(0))
      .withColumn("island", sum($"gap").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = isl.groupBy($"doc_id", $"island")
      .agg((max($"p") - min($"p") + k).as("span_len"))
    val perDoc = spans.groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum($"span_len").cast("long").as("dup_tokens"),
        max($"span_len").cast("long").as("max_span"))
    wins.filter($"p".isNull || $"p" === 0).select($"doc_id", $"ntok")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"ntok",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        coalesce($"max_span", lit(0L)).as("max_span"),
        when($"ntok" > 0,
          round(coalesce($"dup_tokens", lit(0L)) * lit(1.0) / $"ntok", 6))
          .otherwise(0.0).as("dup_frac"))
  }

  val d13Sql: String = s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    base AS MATERIALIZED (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok,
        ${TextSql.tokenHashes("toks")} AS th
      FROM tok),
    win AS MATERIALIZED (
      SELECT doc_id, u.p, u.wh FROM (
        SELECT doc_id, unnest(list_transform(
          range(0, CAST(greatest(ntok - $SegTokens + 1, 0) AS INT)),
          i -> struct_pack(p := i, wh := list_reduce(
            [0::BIGINT] || th[i+1 : i+$SegTokens],
            ${TextSql.windowFoldLambda})))) AS u
        FROM base)),
    dup AS (SELECT doc_id, p FROM win WHERE wh IN (
      SELECT wh FROM win GROUP BY wh HAVING count(*) >= 2)),
    isl AS (SELECT doc_id, p,
      CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > $SegTokens
        THEN 1 ELSE 0 END AS gap
      FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
    isl2 AS (SELECT doc_id, p, sum(gap) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM isl),
    sp AS (SELECT doc_id, island, max(p) - min(p) + $SegTokens AS span_len
      FROM isl2 GROUP BY doc_id, island),
    pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      CAST(sum(span_len) AS BIGINT) AS dup_tokens,
      CAST(max(span_len) AS BIGINT) AS max_span
      FROM sp GROUP BY doc_id)
    SELECT b.doc_id, b.ntok,
      CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
      CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
      CAST(COALESCE(pd.max_span, 0) AS BIGINT) AS max_span,
      CASE WHEN b.ntok > 0
        THEN round(COALESCE(pd.dup_tokens, 0) * 1.0 / b.ntok, 6)
        ELSE 0.0 END AS dup_frac
    FROM base b LEFT JOIN pd USING (doc_id)"""

  /** d14 Bloom geometry: m = 2^20 bit positions, k = 3 probes — the three
    * leading 32-bit words of ONE md5 per shingle (no per-probe rehash).
    */
  val BloomBits = 1L << 20
  val BloomK = 3

  /** d14: BLOOM-FILTER MEMBERSHIP PRE-FILTER — the constant-space gate in
    * front of exact containment (t21's shape): the train split's word
    * 5-grams populate a 2^20-bit Bloom filter (k=3 positions per gram,
    * the three leading 32-bit words of its single md5), and each test
    * doc's grams probe it. A gram "maybe-hits" iff all 3 positions are
    * set; the exact join then reports true hits, so the output exposes
    * the false-positive count directly (bloom_hits ≥ exact_hits always —
    * Bloom filters have NO false negatives, the spec invariant). Scale
    * shape: the filter is represented as its set-position table (≤2^20
    * rows regardless of corpus size — at 100 TB the filter is still
    * 128 KiB as a bitmap, which is the point: the pre-filter is
    * memory-resident everywhere while the exact gram set is not). The
    * PROBE is the native `BloomProbe` expression: the ≤2^20 distinct
    * set positions are collected once (bounded by construction — they
    * are already reduced mod 2^20 on the build side) into a 128 KiB
    * long[] bitset baked into codegen as a reference object, so each
    * test gram's membership test is a pure projection — no explode, no
    * position join, no re-group (the round-12 shape shuffled
    * k×|test grams| rows for what is per-row bit arithmetic). Full hash
    * gate (both engines replay the identical md5-word arithmetic).
    */
  def d14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-branch gram streams: each side tokenizes ONLY its own doc
    // subset (train 90%, test 10%), so the two branches together cost
    // one corpus tokenize pass with NO materialized gram table — the
    // r12 shape checkpointed a full-corpus (doc_id, mh, c) groupBy
    // (~4 GB at sf10) that only the test side's counts actually needed
    // (the t21 recompute-beats-materialize lesson applied here).
    // digests travel as 16-byte BINARY (`unhex(md5)`) — half the hex
    // form's shuffle/checkpoint bytes for the same oracle arithmetic
    // (8 hex chars = 4 digest bytes, big-endian)
    def shOf(docsFilter: Column): DataFrame = Tables.documents(s, dir)
      .filter(docsFilter)
      .withColumn("toks", Text.tokens($"text"))
      .select($"doc_id", explode(Text.shingles($"toks", 5)).as("sh"))
      .select($"doc_id", unhex(md5($"sh")).as("mh"))
    // the train grams, materialized ONCE as the narrow mh column (the
    // only train data any consumer needs): fed to (a) the bitset build —
    // ONE BloomBuildAgg pass whose exchange is a 128 KiB buffer per
    // task, collected as a single row — and (b) the exact-containment
    // semi join. No per-doc grouping, no distinct: LEFT SEMI dedups the
    // build side inherently.
    val trainMh = shOf($"doc_id" % 10 =!= 0).select($"mh")
      .localCheckpoint(true)
    val words: Array[Long] = trainMh
      .agg(graft.functions.BloomBuildAgg($"mh", BloomK, BloomBits).as("w"))
      .head().getSeq[Long](0).toArray
    // test occurrences (10% of the corpus) with the native probe — the
    // per-doc totals never join anything, and the exact check both
    // PRE-FILTERS on the probe (sound: a Bloom filter has no false
    // negatives, so exact ⊆ maybe) and uses LEFT SEMI, so the only
    // data-sized exchange left on this path is the semi join itself.
    def base = shOf($"doc_id" % 10 === 0)
      .withColumn("maybe",
        BloomProbe.fromWords(words, BloomK, BloomBits, $"mh"))
    val totals = base.groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(when($"maybe", 1L).otherwise(0L)).as("bloom_hits"))
    val exact = base.filter($"maybe")
      .join(trainMh, Seq("mh"), "left_semi")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("exact_hits"))
    Tables.documents(s, dir).filter($"doc_id" % 10 === 0).select($"doc_id")
      .join(totals, Seq("doc_id"), "left_outer")
      .join(exact, Seq("doc_id"), "left_outer")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).cast("long").as("n_grams"),
        coalesce($"bloom_hits", lit(0L)).cast("long").as("bloom_hits"),
        coalesce($"exact_hits", lit(0L)).cast("long").as("exact_hits"))
  }

  val d14Sql: String = {
    val pos = (0 until BloomK).map(j =>
      s"CAST(('0x' || substring(mh, ${8 * j + 1}, 8))::UBIGINT AS BIGINT) % $BloomBits")
    s"""
    WITH tok AS (SELECT doc_id, ${TextSql.toks} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest(${TextSql.shingles("toks", 5)}) AS sh
           FROM tok),
    grams AS (SELECT doc_id, md5(sh) AS mh, CAST(count(*) AS BIGINT) AS c
      FROM sh GROUP BY doc_id, md5(sh)),
    bloom AS (SELECT DISTINCT unnest([${pos.mkString(", ")}]) AS pos
      FROM grams WHERE doc_id % 10 <> 0),
    train AS (SELECT DISTINCT mh FROM grams WHERE doc_id % 10 <> 0),
    probe AS (SELECT doc_id, mh, c, unnest([${pos.mkString(", ")}]) AS pos
      FROM grams WHERE doc_id % 10 = 0),
    maybe AS (SELECT p.doc_id, p.mh, p.c,
        (count(b.pos) = $BloomK) AS maybe
      FROM probe p LEFT JOIN bloom b ON p.pos = b.pos
      GROUP BY p.doc_id, p.mh, p.c),
    agg AS (SELECT m.doc_id, sum(m.c) AS n_grams,
        sum(CASE WHEN m.maybe THEN m.c ELSE 0 END) AS bloom_hits,
        sum(CASE WHEN tr.mh IS NOT NULL THEN m.c ELSE 0 END) AS exact_hits
      FROM maybe m LEFT JOIN train tr ON m.mh = tr.mh
      GROUP BY m.doc_id)
    SELECT d.doc_id,
      CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(coalesce(a.bloom_hits, 0) AS BIGINT) AS bloom_hits,
      CAST(coalesce(a.exact_hits, 0) AS BIGINT) AS exact_hits
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN agg a USING (doc_id)"""
  }

  val queries: QM = Map(
    "d14_bloom_prefilter" -> d14,
    "d8_decontamination" -> d8, "d9_incremental_dedup" -> d9,
    "d1_exact_dedup" -> d1, "d2_minhash_lsh" -> d2, "d3_ngram_jaccard" -> d3,
    "d4_simhash" -> d4, "d5_embedding_neardup" -> d5, "d6_dedup_groups" -> d6,
    "d7_segment_dedup" -> d7, "d10_canonical_pick" -> d10,
    "d11_semantic_dedup" -> d11, "d12_dedup_rewrite" -> d12,
    "d13_span_dedup" -> d13)

  val oracles: Map[String, String] = Map(
    "d14_bloom_prefilter" -> d14Sql,
    "d8_decontamination" -> d8Sql, "d9_incremental_dedup" -> d9Sql,
    "d1_exact_dedup" -> d1Sql, "d2_minhash_lsh" -> d2Sql,
    "d3_ngram_jaccard" -> d3Sql, "d4_simhash" -> d4Sql,
    "d5_embedding_neardup" -> d5Sql, "d6_dedup_groups" -> d6Sql,
    "d7_segment_dedup" -> d7Sql, "d10_canonical_pick" -> d10Sql,
    "d11_semantic_dedup" -> d11Sql, "d12_dedup_rewrite" -> d12Sql,
    "d13_span_dedup" -> d13Sql)
}
