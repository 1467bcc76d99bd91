package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Functions._
import graft.sources.Parquet

/** Deduplication suite for training-data pipelines (BASELINE.json north
  * star): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design:
  *  - signatures are computed row-local by fused codegen kernels
  *    (TextHashUtil) — one pass over the text, no shuffle, no interpreted
  *    lambda chains;
  *  - candidate generation is an equi-join on (band, bucket) — the only
  *    shuffle, keyed so Spark hash-partitions it; never an all-pairs cross
  *    join — with a hot-bucket cap so a degenerate bucket (boilerplate or
  *    empty documents) cannot go quadratic;
  *  - all hashing derives from md5 so results are deterministic and
  *    engine-independent (oracle-checkable).
  */
object Dedup {

  /** Structurally unambiguous row-key encoding: each field is length-prefixed
    * (`S<len>:<value>`) with an explicit `N` null sentinel, so neither
    * separator collisions ("a b","c" vs "a","b c") nor NULLs can conflate
    * distinct key tuples. Mirrored verbatim in the DuckDB oracle. */
  def keyEncoding(keyCols: Seq[String]): Column =
    md5(concat(keyCols.map { c =>
      when(col(c).isNull, lit("N"))
        .otherwise(concat(lit("S"), length(col(c).cast("string")), lit(":"), col(c).cast("string")))
    }: _*))

  /** Exact dedup: canonical representative per identical key (min id) plus
    * duplicate count. Hash-groupBy with map-side combine; at 100 TB this is
    * one shuffle on the 128-bit content hash, never on the full text. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyEncoding(keyCols).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** MinHash signature: `numHashes` permutations h_j(x) = (a_j*x + b_j) mod p
    * with a_j = 2j+1 (odd), b_j = (j * 2654435761) mod p over distinct
    * 48-bit md5 shingle hashes. One fused pass per row (codegen kernel). */
  def minhashSignature(text: Column, k: Int = 5, numHashes: Int = 16): Column =
    minhash_signature(text, k, numHashes)

  /** LSH banding: signature split into `bands` bands of `rowsPerBand`;
    * bucket id = md5(band index ++ band slice). Output one row per (doc,
    * band) — the join key for candidate generation. */
  def lshBuckets(df: DataFrame, idCol: String, sig: Column,
                 bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), sig.as("sig"))
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => md5(concat_ws("_", concat_ws(",", b.cast("string")),
            concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Candidate pairs: docs sharing any (band, bucket), with a hot-bucket
    * guard — (band, bucket) groups above `maxBucketSize` are dropped before
    * the self-join (a bucket of b docs yields b^2/2 pairs; one degenerate
    * bucket of near-identical boilerplate would otherwise dominate the whole
    * job at 100 TB). The window shares the join's hash partitioning, so the
    * count adds no extra shuffle exchange. Dropped docs are still seen by
    * their other (non-hot) bands, which is how LSH recall degrades
    * gracefully. */
  def candidatePairs(buckets: DataFrame, idCol: String,
                     maxBucketSize: Int = 1000): DataFrame = {
    val sized = buckets.withColumn("_sz",
      count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
    // materialized once: both self-join legs read the capped rows — without
    // this the signature/banding computation AND the cap's exchange + sort +
    // window tower (a full shuffle of docs x bands rows) run twice
    val capped = materialized(sized.filter(col("_sz") <= maxBucketSize).drop("_sz"))
    val a = capped.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = capped.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard over precomputed sorted shingle-hash sets for given pairs
    * (the verification step after LSH candidate generation). `sets` must
    * carry (_jid, _jset) as produced in [[minhashLsh]]. */
  def withJaccard(pairs: DataFrame, sets: DataFrame,
                  threshold: Double = 0.0): DataFrame = {
    val joined = pairs
      .join(sets.withColumnRenamed("_jid", "id_a").withColumnRenamed("_jset", "set_a"), "id_a")
      .join(sets.withColumnRenamed("_jid", "id_b").withColumnRenamed("_jset", "set_b"), "id_b")
    // optional early-abort gate: at a known downstream threshold the full
    // merge only needs to run on pairs the bound cannot rule out
    val gated = if (threshold > 0)
      joined.filter(jaccard_ge(col("set_a"), col("set_b"), threshold))
    else joined
    gated
      .withColumn("jaccard", round(jaccard_sorted(col("set_a"), col("set_b")), 6))
      .drop("set_a", "set_b")
  }

  /** Materialize a computed frame once so every downstream use reads the
    * stored blocks instead of re-running the producing kernel. The shingle /
    * n-gram / fingerprint sets feed THREE plan legs (banding, and both sides
    * of the verify join); without this the per-doc hash kernel — the
    * dominant cost — runs three times. `localCheckpoint` stores
    * MEMORY_AND_DISK on the executors and truncates lineage; this is the
    * standard "cache the signatures before the similarity join" trade
    * (memory for a 3x kernel saving) and it scales: blocks spill to local
    * disk, nothing funnels through the driver. */
  private def materialized(df: DataFrame): DataFrame =
    df.localCheckpoint(false)

  /** Full MinHash-LSH near-dup pipeline: one shingle pass per doc produces
    * the hash set; the signature derives from that set (no re-shingling),
    * banding buckets candidates, and the same sets verify exact Jaccard. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 5, bands: Int = 4, rowsPerBand: Int = 4,
                 threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    val sets = materialized(docs
      .select(col(idCol).as("_jid"), shingle_hash_set(col(textCol), k).as("_jset")))
    val withSig = sets.withColumn("_sig", minhash_from_hashes(col("_jset"), bands * rowsPerBand))
    val buckets = lshBuckets(withSig, "_jid", col("_sig"), bands, rowsPerBand)
      .withColumnRenamed("_jid", idCol)
    val pairs = candidatePairs(buckets, idCol, maxBucketSize)
    withJaccard(pairs, sets, threshold).filter(col("jaccard") >= threshold)
  }

  /** Word n-gram Jaccard near-dup: pairs inside a blocking key whose n-gram
    * sets overlap above `threshold`. The join is a blocked equi-join (one
    * shuffle on the block key) with the same hot-block cap as LSH —
    * within-block comparison is quadratic in block size, so blocks above
    * `maxBlockSize` are dropped rather than allowed to dominate the job.
    * Use when the corpus has a natural partition (language, source, length
    * bucket); for unblocked corpora prefer [[minhashLsh]], whose banding
    * generates candidates without a quadratic term. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   blockCols: Seq[String], n: Int = 2, threshold: Double = 0.5,
                   maxBlockSize: Int = 1000): DataFrame = {
    // no materialization here: base's only consumer is the sized->capped
    // chain, and `capped` below is itself materialized for the two join legs
    val base = docs.select(
      (blockCols.map(col) :+ col(idCol) :+ ngram_hash_set(col(textCol), n).as("_gset")): _*)
    val sized = base.withColumn("_sz",
      count(lit(1)).over(Window.partitionBy(blockCols.map(col): _*)))
    // same two-legs argument as candidatePairs: cap the block once
    val capped = materialized(sized.filter(col("_sz") <= maxBlockSize).drop("_sz"))
    val a = capped.select(
      (blockCols.map(col) :+ col(idCol).as("id_a") :+ col("_gset").as("set_a")): _*)
    val b = capped.select(
      (blockCols.map(col) :+ col(idCol).as("id_b") :+ col("_gset").as("set_b")): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      // early-abort threshold gate FIRST (PPJoin-family bound inside the
      // kernel: the merge stops as soon as |A∩B| provably cannot reach
      // t/(1+t)·(|A|+|B|), with rounding slack so no qualifying pair is
      // lost) — the full-merge exact jaccard then runs only on survivors,
      // a tiny fraction of the quadratic block pairs
      .filter(jaccard_ge(col("set_a"), col("set_b"), threshold))
      .withColumn("jaccard", round(jaccard_sorted(col("set_a"), col("set_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select((blockCols.map(col) :+ col("id_a") :+ col("id_b") :+ col("jaccard")): _*)
  }

  /** Directional CONTAINMENT detection — the asymmetric dup class Jaccard
    * misses: an excerpt quoted inside a much larger document has
    * C(A→B) = |A∩B|/|A| ≈ 1 but tiny Jaccard (the union is dominated by
    * B), so MinHash-LSH never surfaces it. Candidates come from an
    * INVERTED GRAM INDEX instead of signature banding: every doc's
    * distinct word-n-gram hashes explode to (gram, doc) postings, grams
    * seen in more than `maxGramDocs` docs are dropped (boilerplate — the
    * capped graceful degradation of [[candidatePairs]], replayed by the
    * oracle), and the posting self-join counts shared grams per ordered
    * pair EXACTLY — the count doubles as the intersection, so no second
    * verification pass exists.
    *
    * Scale shape: pair volume is sum over grams of df^2 <= maxGramDocs *
    * corpus-gram-volume — linear in the corpus with a chosen constant,
    * never quadratic in docs. Text never crosses a shuffle (hashes only).
    * Sizes |A| count the SAME capped gram universe, keeping the ratio
    * internally consistent; dropped boilerplate makes it conservative. */
  def containment(docs: DataFrame, idCol: String, textCol: String, n: Int = 4,
                  threshold: Double = 0.6, maxGramDocs: Int = 50): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(maxGramDocs >= 2, s"maxGramDocs must be >= 2, got $maxGramDocs")
    val inv = materialized(docs.select(col(idCol).as("_cid"),
      explode(ngram_hash_set(col(textCol), n)).as("_g")))
    val dfreq = inv.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
    val kept = materialized(
      inv.join(dfreq.filter(col("_df") <= maxGramDocs).select("_g"), Seq("_g")))
    val sizes = kept.groupBy(col("_cid")).agg(count(lit(1)).as("size_a"))
    val pairs = kept.select(col("_g"), col("_cid").as("id_a"))
      .join(kept.select(col("_g"), col("_cid").as("id_b")), Seq("_g"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
    pairs.join(sizes.withColumnRenamed("_cid", "id_a"), Seq("id_a"))
      .withColumn("containment", round(col("shared") / col("size_a"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"), col("size_a"),
        col("containment"))
  }

  /** SimHash: per-token md5-derived hash; each bit position accumulates
    * +1/-1 across tokens; the sign of each sum becomes the fingerprint bit.
    * Row-local fused kernel, no shuffle. */
  def simhash(text: Column, bits: Int = 32): Column = simhash_fused(text, bits)

  /** Hamming distance between two simhash values, masked to the requested
    * width so bits beyond `bits` never contribute. */
  def hammingDistance(a: Column, b: Column, bits: Int = 32): Column = {
    val x = a.bitwiseXOR(b)
    val masked = if (bits >= 64) x else x.bitwiseAND(lit((1L << bits) - 1))
    call_function("bit_count", masked).cast("int")
  }

  /** SimHash near-dup: candidate pairs share at least one exact band of the
    * fingerprint — by pigeonhole, any pair within hamming distance
    * `maxHamming < bands` MUST agree on some band, so banding loses nothing
    * at that radius. The join is the same capped (band, bucket) equi-join
    * as MinHash-LSH (never all-pairs); candidates are verified by exact
    * hamming distance. */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     bits: Int = 32, bands: Int = 4, maxHamming: Int = 3,
                     maxBucketSize: Int = 1000): DataFrame = {
    require(bits % bands == 0, s"bits ($bits) must divide into bands ($bands)")
    require(maxHamming < bands,
      s"banding is lossless only for maxHamming < bands, got $maxHamming >= $bands")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val fp = materialized(docs.select(col(idCol), simhash(col(textCol), bits).as("_fp")))
    val banded = fp
      .select(col(idCol), posexplode(array((0 until bands).map(b =>
        shiftright(col("_fp"), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    // verify BEFORE dedup — the opposite order from [[minhashLsh]], and
    // deliberately so: the hamming check is two longs (xor + popcount), far
    // cheaper than the shuffle a distinct over the raw candidate pairs
    // costs (a pair sharing several bands appears once per band), while
    // minhashLsh's set-merge verify is expensive enough that deduping
    // first pays. The distinct here runs on the (much smaller) survivor
    // set only.
    val sized = banded.withColumn("_sz",
      count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
    val capped = materialized(sized.filter(col("_sz") <= maxBucketSize).drop("_sz"))
    val a = capped.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = capped.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .join(fp.select(col(idCol).as("id_a"), col("_fp").as("_fp_a")), "id_a")
      .join(fp.select(col(idCol).as("id_b"), col("_fp").as("_fp_b")), "id_b")
      .withColumn("hamming", hammingDistance(col("_fp_a"), col("_fp_b"), bits))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Incremental (batch-vs-corpus) dedup — the production shape for a
    * continuously-ingested corpus: dedup each NEW batch against the existing
    * corpus without ever re-pairing the corpus with itself. Ids must be
    * unique across corpus ∪ batch. Returns the surviving batch rows (batch
    * schema). Drops are decided on the full pair set (like [[minhashLsh]]):
    *
    *  1. exact — a batch doc whose text already exists in the corpus is
    *     dropped (the re-crawl case); within the batch only the min-id doc
    *     of each identical text survives;
    *  2. near-dup — a batch doc is dropped when its exact Jaccard (over the
    *     same k-shingle md5 sets as [[minhashLsh]]) with ANY corpus doc, or
    *     with a smaller-id batch doc, reaches `threshold`; candidates come
    *     from the same capped (band, bucket) LSH equi-join.
    *
    * Scale design: corpus docs appear ONLY as the keyed build side of the
    * (band, bucket) join — corpus×corpus pairs are never generated, so
    * ingesting a batch costs O(batch), not O(corpus). At 100 TB the corpus
    * band table is a stored index (each doc banded once, when it was itself
    * ingested — the [[LshIndex]] overload takes it precomputed and
    * [[lshIndex]] builds it); the hot-bucket cap applies to the combined
    * bucket population, the same graceful degradation as
    * [[candidatePairs]]. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, k: Int = 5, bands: Int = 4,
                       rowsPerBand: Int = 4, threshold: Double = 0.5,
                       maxBucketSize: Int = 1000): DataFrame =
    incrementalDedup(lshIndex(corpus, idCol, textCol, k, bands, rowsPerBand),
      batch, idCol, textCol, k, bands, rowsPerBand, threshold, maxBucketSize)

  /** EXACT incremental dedup with a Bloom membership fast path — the
    * cheapest ingest gate a 100 TB corpus can run. Semantics are the exact
    * half of [[incrementalDedup]] rule 1: within the batch only the min-id
    * doc of each identical text survives, and a batch doc whose text
    * already exists in the corpus is dropped. No near-dup logic — run this
    * BEFORE the LSH path so the expensive shingle/band machinery only sees
    * exact-novel rows.
    *
    * Scale design: the corpus appears only as a content-hash aggregate
    * folded into a broadcast Bloom bitset ([[SemiJoinReduction.bloomAntiJoin]]);
    * batch rows that miss the bloom are definitely-new and never enter a
    * join, so the per-ingest cost is O(batch) row-local work plus a confirm
    * join whose probe side is (true dups + false positives) only. The
    * bitset is OR-mergeable — append each ingest's survivors and store it
    * beside the corpus like [[LshIndex]]. */
  def bloomIncrementalExact(corpus: DataFrame, batch: DataFrame, idCol: String,
                            textCol: String, numBits: Int = 1 << 20,
                            numHashes: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("_h")).orderBy(col(idCol))
    val b = batch.withColumn("_h", md5(col(textCol)))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    val corpusHashes = corpus.select(md5(col(textCol)).as("_ch"))
      .filter(col("_ch").isNotNull).distinct()
    SemiJoinReduction.bloomAntiJoin(b, corpusHashes, "_h", "_ch", numBits, numHashes)
      .drop("_h")
  }

  /** Stored LSH index of a corpus — the artifact a production deployment
    * keeps NEXT TO the corpus so each ingest batch is indexed once, at its
    * own ingest: `sets` has one row per doc (_jid, _jhash content hash,
    * _jset sorted shingle hashes), `bands` has `bands` rows per doc
    * (_jid, band, bucket). Both are plain DataFrames — write them as
    * parquet tables and append each batch's survivors' rows. */
  final case class LshIndex(sets: DataFrame, bands: DataFrame)

  /** Build the [[LshIndex]] of `docs` (see [[incrementalDedup]]; the same
    * shingling/banding as [[minhashLsh]], so index rows are append-stable
    * across batches). */
  def lshIndex(docs: DataFrame, idCol: String, textCol: String, k: Int = 5,
               bands: Int = 4, rowsPerBand: Int = 4): LshIndex = {
    val sets = materialized(docs.select(col(idCol).as("_jid"),
      md5(col(textCol)).as("_jhash"),
      shingle_hash_set(col(textCol), k).as("_jset")))
    val banded = lshBuckets(sets.withColumn("_sig",
        minhash_from_hashes(col("_jset"), bands * rowsPerBand)),
      "_jid", col("_sig"), bands, rowsPerBand)
    LshIndex(sets, banded)
  }

  /** [[incrementalDedup]] against a PRECOMPUTED corpus index — the true
    * production entry point: the corpus is never re-read, re-shingled, or
    * re-banded; the batch's own index rows are built here (and are exactly
    * what a caller appends to the stored index for the survivors).
    * `k`/`bands`/`rowsPerBand` must match the parameters the index was
    * built with, or batch and corpus buckets would not collide. */
  def incrementalDedup(index: LshIndex, batch: DataFrame, idCol: String,
                       textCol: String, k: Int, bands: Int, rowsPerBand: Int,
                       threshold: Double, maxBucketSize: Int): DataFrame =
    incrementalDedupStore(
      _ => index.sets.select(col("_jhash").as("_h")).distinct(),
      _ => index.bands,
      _ => index.sets.select(col("_jid"), col("_jset")),
      batch, idCol, textCol, k, bands, rowsPerBand, threshold, maxBucketSize)

  /** [[incrementalDedup]] against a stored index accessed through PRUNABLE
    * loaders — the 100 TB ingest shape: each loader receives the batch-side
    * probe frame and returns the corpus-side rows that could possibly match
    * it, so a store PARTITIONED on the probe key can serve every micro-batch
    * with a partition-pruned read instead of an O(corpus-index) scan
    * ([[graft.streaming.Streams.foreachBatchIndexedDedup]] wires these to a
    * bucket-partitioned parquet store).
    *
    *  - `corpusHashesFor`: batch content hashes (`_h`) -> corpus hashes
    *    (`_h`) for the exact-dup anti-join;
    *  - `corpusBandsFor`: batch (band, bucket) keys -> corpus index rows
    *    (`_jid`, band, bucket) for candidate generation;
    *  - `corpusSetsFor`: candidate corpus ids (`_jid`) -> their shingle
    *    sets (`_jid`, `_jset`) for Jaccard verification.
    *
    * Each loader may return any SUPERSET of the matching rows (extra rows
    * die in the joins — a plain full-index loader is the [[LshIndex]]
    * overload); returning less loses duplicates. */
  def incrementalDedupStore(corpusHashesFor: DataFrame => DataFrame,
                            corpusBandsFor: DataFrame => DataFrame,
                            corpusSetsFor: DataFrame => DataFrame,
                            batch: DataFrame, idCol: String, textCol: String,
                            k: Int, bands: Int, rowsPerBand: Int,
                            threshold: Double, maxBucketSize: Int): DataFrame = {
    val batchHashed = batch.withColumn("_h", md5(col(textCol)))
    val corpusHashes = corpusHashesFor(batchHashed.select("_h").distinct())
      .select(col("_h"))
    // exact phase: canonical min id within the batch, then anti-join the
    // corpus content hashes (128-bit hash crosses the shuffle, never text)
    val batchExact = materialized(batchHashed
      .withColumn("_keep", min(col(idCol)).over(Window.partitionBy(col("_h"))))
      .filter(col(idCol) === col("_keep"))
      .join(corpusHashes, Seq("_h"), "left_anti")
      .drop("_h", "_keep"))
    val batchIdx = lshIndex(batchExact, idCol, textCol, k, bands, rowsPerBand)
    val corpusBands = corpusBandsFor(
      batchIdx.bands.select(col("band"), col("bucket")).distinct())
    val allBands = batchIdx.bands.withColumn("_side", lit("b"))
      .unionByName(corpusBands.select(col("_jid"), col("band"), col("bucket"))
        .withColumn("_side", lit("c")))
    val sized = allBands.withColumn("_sz",
      count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
    val capped = materialized(sized.filter(col("_sz") <= maxBucketSize).drop("_sz"))
    val probe = capped.filter(col("_side") === "b")
      .select(col("band"), col("bucket"), col("_jid").as("_bid"))
    val build = capped
      .select(col("band"), col("bucket"), col("_jid").as("_oid"), col("_side"))
    val pairs = probe.join(build, Seq("band", "bucket"))
      .filter(col("_side") === "c" || col("_oid") < col("_bid"))
      .select(col("_bid"), col("_oid")).distinct()
    // corpus shingle sets only for ids that survived the bucket cap — at
    // most maxBucketSize per touched bucket, never the whole stored index
    val corpusSets = corpusSetsFor(
      capped.filter(col("_side") === "c").select(col("_jid")).distinct())
    val sets = batchIdx.sets.select(col("_jid"), col("_jset"))
      .unionByName(corpusSets.select(col("_jid"), col("_jset")))
    val dropIds = pairs
      .join(sets.select(col("_jid").as("_bid"), col("_jset").as("_bset")), "_bid")
      .join(sets.select(col("_jid").as("_oid"), col("_jset").as("_oset")), "_oid")
      .filter(jaccard_ge(col("_bset"), col("_oset"), threshold) &&
        round(jaccard_sorted(col("_bset"), col("_oset")), 6) >= threshold)
      .select(col("_bid").as(idCol)).distinct()
    batchExact.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Duplicate clustering — connected components over a near-dup pair graph
    * (the step between pair generation and canonical-doc selection: pair
    * lists alone under-delete, since dropping only `id_b` of each pair keeps
    * transitive duplicates whose pair was pruned by banding). Labels every
    * node with the minimum id reachable from it (= its component id).
    *
    * Iterative min-label propagation: each round joins the deduped
    * bidirectional edge list to the current labels and takes the per-node
    * min of own and neighbor labels. Rounds needed = component diameter —
    * near-dup components are cliquish (every member shares a bucket with
    * most others), so the diameter is small; `maxIter` bounds the worst
    * case, and a run that has not REACHED a fixpoint throws rather than
    * returning labels that are only an upper bound. Each round is two keyed
    * shuffles (join + groupBy, both on the node id); `localCheckpoint`
    * truncates the lineage so round N does not replan rounds 1..N-1, and the
    * convergence probe reuses the checkpointed blocks instead of recomputing
    * the round. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    // checkpoint the edge list ALREADY hash-partitioned on the join key:
    // localCheckpoint preserves outputPartitioning on the LogicalRDD, so
    // every round's label join reuses it and only the (small) label side
    // moves — without this the static edge side re-shuffles every round
    // repartition FIRST, dedup second: hash(dst) satisfies the (src, dst)
    // aggregate's clustering (dst ⊆ keys), so dropDuplicates runs
    // partition-local on the already-exchanged rows — one edge shuffle for
    // the whole setup instead of distinct's plus repartition's (guide §2.4:
    // two operations keyed compatibly share one exchange)
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .repartition(col("dst"))
      .dropDuplicates("src", "dst")
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    // DELTA propagation: only nodes whose label CHANGED last round need to
    // re-notify their neighbors — if neighbor v is unchanged since round j,
    // every u adjacent to v already folded label(v) in round j+1, so v's
    // re-notification is a no-op (inductively the per-round label states
    // are IDENTICAL to full propagation, not just the fixpoint). Round 1
    // is full-volume; later rounds' join output shrinks toward zero, so
    // the per-round shuffle is O(frontier), not O(edges). (guide §2.3:
    // shuffle fewer bytes)
    var changed = labels
    var converged = false
    var iter = 0
    // round N-1's checkpointed label frame is dead once round N has
    // materialized and been convergence-checked — release its blocks or
    // the loop accumulates a node-scale frame per round ([[Blocks]])
    var prevRound = labels
    while (!converged && iter < maxIter) {
      val neighborLabels = edges
        .join(changed.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label"))
      // the previous label rides through the aggregation (own row carries
      // it, neighbor rows carry null, max ignores nulls), so convergence is
      // a scan of the checkpointed result — no second join per round
      val next = labels.select(col("id"), col("label"), col("label").as("_prev"))
        .unionByName(neighborLabels.withColumn("_prev", lit(null).cast(
          labels.schema("label").dataType)))
        .groupBy("id").agg(min("label").as("label"), max("_prev").as("_prev"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("_prev")).select("id", "label")
      converged = changed.isEmpty
      Blocks.drop(prevRound)
      prevRound = next
      labels = next.select("id", "label")
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations — " +
        "a component's diameter exceeds maxIter; raise it")
    // the returned frame reads only the final label checkpoint; the
    // edge-scale blocks are dead past this point — release them so a
    // long session does not pin one edge set per invocation ([[Blocks]])
    Blocks.drop(edges)
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the two-hop
    * algorithm of Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond") — the HIGH-DIAMETER complement to
    * [[connectedComponents]]: min-label propagation needs diameter rounds
    * (fine for cliquish near-dup components, hopeless for chain-shaped
    * graphs), while alternating large-star/small-star contracts any
    * component to a star rooted at its minimum in O(log n) rounds
    * regardless of diameter.
    *
    * Per round, over the current edge multigraph:
    *  - LARGE-STAR: group the bidirected edges by node u, m = min(N(u) ∪
    *    {u}); every strictly-larger neighbor re-links to m — (v, m) for
    *    v > u. Long chains halve here.
    *  - SMALL-STAR: orient each edge (hi, lo); group by hi, m = min
    *    neighbor; every smaller neighbor AND hi itself re-link to m.
    *
    * Both steps are one window-min + projection over the SAME hash
    * partitioning as the groupBy a label join would need — three keyed
    * shuffles per full round (each star's window plus one closing
    * distinct; see the invariant note in the body), comparable to a
    * min-label round, but O(log n) rounds total. The fixpoint (edge set unchanged by a full round) is a star
    * forest: every node points at its component min. Same output contract
    * as [[connectedComponents]]: (id, cluster_id) over every node
    * appearing in `pairs`, and a run that has not reached the fixpoint
    * within `maxIter` throws rather than returning partial contractions. */
  def connectedComponentsStar(pairs: DataFrame, idA: String = "id_a",
                              idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    // checkpoint the bare pair projection FIRST: the nodes and edges
    // checkpoints below are separate actions, and without this each would
    // re-evaluate the whole upstream pair-generation plan (for LSH input
    // that is the full shingle/minhash/band chain — the dominant cost)
    val raw = pairs.select(col(idA).as("u"), col(idB).as("v")).localCheckpoint()
    // every node that appears anywhere keeps a label even if its only pair
    // is a self-pair (dropped from the edge work below as a no-op edge).
    // NOT checkpointed: its single consumer is the final labeling join, and
    // it reads the already-checkpointed `raw` blocks — an eager
    // materialization here paid one extra setup pass for nothing
    val nodes = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct()
    // Every round's edge set keeps the INVARIANT u > v (established by the
    // initial orientation below, preserved by both stars' emissions). That
    // invariant is what lets each star body run with a single distinct: the
    // bidirectional union is duplicate-free by construction (e and swap(e)
    // cannot overlap when all of e is strictly hi->lo), and the duplicate
    // (child, min) emissions from different source groups are harmless under
    // the next window's `min` — so only the round's FINAL distinct pays a
    // shuffle. 3 keyed shuffles per round (two window partitionings + one
    // closing distinct) instead of the naive 6.
    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.union(e.select(col("v"), col("u")))
      bi.withColumn("_m", least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
        .filter(col("v") > col("u"))
        // emitted (v, m) has m <= u < v, so the u > v invariant holds
        .select(col("v").as("u"), col("_m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // both emission legs fold into ONE projection (explode of a
      // 2-element struct array): per input row, (v, m) when v != m plus
      // the unconditional (u, m) — the same multiset the two union legs
      // produced, so the set after filter+distinct is identical. The
      // Sort + Window tower now has a single consumer, so it evaluates
      // once per round with NO materialization: round 15's per-round
      // localCheckpoint here paid a block write the driver measured as a
      // 26% regression at 32 cores (guide §1.2: the algorithm fix —
      // don't compute twice — beats caching what you computed twice)
      e.withColumn("_m", min(col("v")).over(Window.partitionBy(col("u"))))
        .select(explode(array(
          when(col("v") =!= col("_m"),
            struct(col("v").as("u"), col("_m").as("v"))),
          struct(col("u").as("u"), col("_m").as("v")))).as("_e"))
        .filter(col("_e").isNotNull)
        .select(col("_e.u").as("u"), col("_e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var edges = raw.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // fixpoint = same edge SET after a full round. Both frames are
      // distinct sets, so |A| == |B| makes one-direction containment
      // (exceptAll empty) equivalent to equality — a cheap count over the
      // checkpointed blocks short-circuits non-converged rounds, and the
      // converged round pays ONE anti-join instead of two
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      // the superseded round's edge blocks are dead after the convergence
      // check — release them or the loop retains an edge-scale frame per
      // round (the sf1-probe OOM; [[Blocks]])
      Blocks.drop(edges)
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds — " +
        "raise maxIter (expected rounds are O(log n))")
    // the fixpoint is a star forest: (child -> root) edges; roots and
    // self-pair-only nodes label themselves
    nodes.join(edges.select(col("u").as("id"), col("v").as("_root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("_root"), col("id")).as("cluster_id"))
  }

  /** Canonical-doc selection over [[connectedComponents]]: keep one
    * representative (the min id) per duplicate cluster, leave unpaired docs
    * untouched. One anti-join shuffle on the id. */
  def dropDuplicateClusterMembers(docs: DataFrame, idCol: String,
                                  pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val losers = connectedComponents(pairs, maxIter = maxIter)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Blocked fuzzy match — edit-distance pairs inside a blocking key, the
    * entity-resolution primitive (merchant/account name reconciliation,
    * near-identical record detection where token sets are too coarse).
    * Same scale posture as [[ngramJaccard]]: candidates come from a blocked
    * equi-join with a hot-block cap, never all-pairs; a cheap length
    * prefilter (|len(a)-len(b)| <= maxDistance is necessary for edit
    * distance <= maxDistance) drops pairs up front, and the DP itself is
    * Spark's THRESHOLDED levenshtein — a banded O((2d+1)·len) pass that
    * abandons a pair the moment its distance provably exceeds the bound,
    * instead of the full O(len²) matrix. Blocks must be selective: the
    * per-pair DP is the unit cost, so block size bounds the quadratic term
    * exactly as in the other blocked joins. Results match the plain
    * `levenshtein(a,b) <= d` filter (thresholded form returns the exact
    * distance within the bound, -1 above it), so the oracle replays it
    * engine-independently. */
  def fuzzyMatch(docs: DataFrame, idCol: String, textCol: String,
                 blockCols: Seq[String], maxDistance: Int,
                 maxBlockSize: Int = 1000): DataFrame = {
    require(maxDistance >= 0, s"fuzzyMatch: maxDistance must be >= 0, got $maxDistance")
    val base = docs.select((blockCols.map(col) :+ col(idCol) :+ col(textCol)): _*)
    val sized = base.withColumn("_sz",
      count(lit(1)).over(Window.partitionBy(blockCols.map(col): _*)))
    val capped = materialized(sized.filter(col("_sz") <= maxBlockSize).drop("_sz"))
    val a = capped.select(
      (blockCols.map(col) :+ col(idCol).as("id_a") :+ col(textCol).as("_ta")): _*)
    val b = capped.select(
      (blockCols.map(col) :+ col(idCol).as("id_b") :+ col(textCol).as("_tb")): _*)
    a.join(b, blockCols)
      .filter(col("id_a") < col("id_b"))
      .filter(abs(length(col("_ta")) - length(col("_tb"))) <= maxDistance)
      .withColumn("distance", levenshtein(col("_ta"), col("_tb"), maxDistance))
      .filter(col("distance") >= 0)
      .select((blockCols.map(col) :+ col("id_a") :+ col("id_b") :+ col("distance")): _*)
  }

  /** Embedding near-dup: pairs inside a blocking key with cosine above a
    * threshold. Blocking keeps the join an equi-join (shuffle on block key,
    * AQE handles block skew) instead of a cross join. */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, threshold: Double): DataFrame = {
    val a = emb.select(col(blockCol).as("block"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = emb.select(col(blockCol).as("block"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, "block")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("block", "id_a", "id_b", "cosine")
  }

  /** Embedding near-dup blocked on a SCALE-ADAPTIVE IVF cell — the blocking
    * key [[embeddingNearDup]] needs when no selective natural key exists
    * (a fixed-cardinality key like `label` turns the within-block join
    * quadratic as the corpus grows). nlist = floor(sqrt(N)) corpus-sampled
    * centroids ([[Similarity.derivedCodebook]]: count + bounded sample
    * collect + broadcast — sampled from the data so clustered corpora
    * still spread over ~nlist balanced cells),
    * assignment is the row-local argmax-cosine codegen kernel,
    * candidates come from ONE self equi-join on the cell id with AQE
    * splitting skewed cells — pair work ~N^1.5 at any corpus size. Recall
    * trade matches SemDeDup/IVF-at-nprobe=1: near-dups straddling a cell
    * boundary are missed. Output: (cell, id_a, id_b, cosine). */
  def embeddingNearDupIvf(emb: DataFrame, idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    val codebook = Similarity.derivedCodebook(emb, idCol, vecCol)
    val assigned = emb
      .select(col(idCol), col(vecCol))
      .withColumn("cell", cell_assign(col(vecCol), codebook))
    val a = assigned.select(col("cell"), col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = assigned.select(col("cell"), col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(cosine(col("vec_a"), col("vec_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("cell", "id_a", "id_b", "cosine")
  }

  /** Cross-document repeated-span detection — the exact SUBSTRING-level
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): memorization risk comes from repeated
    * *spans*, which document-level near-dup (d03) cannot see. Per document:
    * how many n-token spans also occur in >= minDocs-1 other documents, and
    * what fraction of the doc's tokens those spans cover.
    *
    * Output: (doc_id, n_tokens, dup_spans, covered_tokens, dup_ratio)
    * for every document (0s for clean or short docs).
    *
    * Scale design — LINEAR end to end, unlike pair-producing dedup:
    *  - grams are md5-hashed in the same row-local projection that
    *    enumerates them, so TEXT NEVER CROSSES A SHUFFLE (the t21
    *    boilerplate posture): only (doc_id, pos, hash128) rows move.
    *  - "is this gram repeated" is ONE hash-keyed aggregate; the positions
    *    then LEFT-SEMI join the repeated-hash set on the SAME key (filter
    *    semantics — no fan-out on hot grams, a boilerplate gram appearing
    *    in every doc adds zero pairs because no pairs exist anywhere).
    *  - span coverage unions [p, p+n-1] intervals per doc via a
    *    doc-keyed distinct over covered positions — bounded by document
    *    length, never by corpus repetition. */
  /** LSH parameter sweep — the S-curve tuning step that makes the MinHash
    * family self-configuring (the datasketch/Mining-of-Massive-Datasets
    * recipe): for every (bands, rows) split of a signature budget, the
    * collision probability of a pair with Jaccard s is 1-(1-s^rows)^bands;
    * the best split minimizes false-positive area below the threshold plus
    * false-negative area above it (midpoint-rule integrals over a fixed
    * grid). Output: one row per candidate split with (fp, fn, err),
    * ordered best-first by (rounded err, bands, rows) — row 1 is the
    * chosen parameterization for [[lshNearDup]]/[[lshIndex]].
    *
    * The sweep is candidate-grid-sized (≤ ~50 rows for a 16-hash budget)
    * and computed row-local with HOF aggregates — no data is touched; it
    * lives in the engine (not a driver calculator) so the same plan
    * documents the choice and any engine replays it. */
  def lshParameterSweep(spark: org.apache.spark.sql.SparkSession,
                        threshold: Double, maxSignature: Int,
                        steps: Int = 100): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    require(maxSignature >= 1, s"maxSignature must be >= 1, got $maxSignature")
    import spark.implicits._
    val cands = (for {
      r <- 1 to maxSignature
      b <- 1 to maxSignature
      if b * r <= maxSignature
    } yield (b, r)).toDF("n_bands", "n_rows")
    // miss(s) = (1 - s^rows)^bands; collision(s) = 1 - miss(s), at
    // midpoints s_i = (i+0.5)/steps. Both integrands are written as the
    // SAME expression tree the oracle uses (1-(1-x) double-rounds, so fn
    // computes the power directly, never via 1-collision).
    val miss = (i: Column) =>
      pow(lit(1.0) - pow((i + 0.5) / steps, col("n_rows")), col("n_bands"))
    val grid = sequence(lit(0), lit(steps - 1))
    def area(pred: Column => Column, integrand: Column => Column): Column =
      aggregate(filter(grid, pred), lit(0.0), (acc, i) => acc + integrand(i)) / steps
    val below = (i: Column) => (i + 0.5) / steps < threshold
    cands
      .withColumn("fp", round(area(below, i => lit(1.0) - miss(i)), 6))
      .withColumn("fn", round(area(i => !below(i), miss), 6))
      .withColumn("err", round(col("fp") + col("fn"), 6))
      .orderBy(col("err"), col("n_bands"), col("n_rows"))
  }

  /** Row 1 of [[lshParameterSweep]] as the `(bands, rowsPerBand)` pair to
    * RUN — the s19 autotune pattern applied to the LSH family: production
    * entries ([[minhashLsh]] callers, [[lshIndex]] builders) derive their
    * banding from the target threshold and signature budget instead of
    * caller constants, so the deployed configuration is by construction
    * the FP+FN-minimal point of the S-curve (DedupSpec pins it at or
    * below every constant split of the same budget). Driver cost: one
    * candidate-grid-sized local job (≤ ~50 rows at budget 16). */
  def selectLshSplit(spark: org.apache.spark.sql.SparkSession,
                     threshold: Double, maxSignature: Int = 16): (Int, Int) =
    // memoized: the sweep is a PURE function of (threshold, budget) — no
    // data is touched — yet every caller (the pipeline entries run it per
    // invocation) paid a driver collect round for the identical one-row
    // answer. First call still computes through the engine plan (the d15
    // sweep documents the choice); repeats are a map lookup. (guide §1.2:
    // don't compute things you throw away — here, re-compute)
    lshSplitMemo.computeIfAbsent((threshold, maxSignature), _ => {
      val r = lshParameterSweep(spark, threshold, maxSignature)
        .limit(1).collect()(0)
      (r.getAs[Int]("n_bands"), r.getAs[Int]("n_rows"))
    })

  private val lshSplitMemo =
    new java.util.concurrent.ConcurrentHashMap[(Double, Int), (Int, Int)]

  /** Duplicate-span REMOVAL — the corrective half of [[dupSpans]] (Lee et
    * al. cut the repeated spans out of the corpus, they don't just count
    * them). Policy, chosen to be deterministic and engine-replayable: for
    * every cross-document repeated n-gram, the document with the MINIMUM
    * doc id among its holders keeps its occurrences; every other document
    * drops the tokens its occurrences cover (drops union across grams, so
    * overlapping spans never double-drop). One canonical copy of every
    * repeated span survives corpus-wide at document granularity.
    *
    * Output: (doc_id, n_tokens, kept_tokens, clean_md5) — the md5 of the
    * space-rejoined surviving tokens (the rebuilt text itself can be
    * terabytes; the digest proves it byte-exactly).
    *
    * Scale: everything [[dupSpans]] says, plus one doc-keyed token-row
    * shuffle for the ordered rebuild — linear, text still never crosses
    * the gram shuffle (the rebuild shuffles (doc, pos, token) rows keyed
    * by doc, the same volume as the corpus itself). */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = docs.select(col(idCol).as("doc_id"),
        filter(split(trim(lower(col(textCol))), "\\s+"),
          t => length(t) >= 1).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).as("n_tokens"), col("_toks"))
      .localCheckpoint(false) // feeds gram enumeration AND the rebuild
    // the gram digest crosses every shuffle of this operator as the key:
    // unhex folds the 32-char hex string to its 16 raw bytes (md5 is a
    // fixed-width hex alphabet, so unhex is a bijection — grouping and
    // join equality are unchanged), halving the key bytes on the gram
    // aggregate and the keeper join (guide §2.3: narrower types)
    val pos = base.select(col("doc_id"), posexplode(
        when(col("n_tokens") >= n,
          transform(sequence(lit(1), col("n_tokens") - (n - 1)),
            p => unhex(md5(concat_ws(" ", slice(col("_toks"), p, lit(n)))))))
          .otherwise(array().cast("array<binary>"))).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("h"))
    // per repeated gram: who keeps it (min doc id among >= minDocs holders)
    val keepers = pos.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("_df"), min(col("doc_id")).as("_keeper"))
      .filter(col("_df") >= minDocs)
      .select(col("h"), col("_keeper"))
    val dropPos = pos.join(keepers, Seq("h"))
      .filter(col("doc_id") =!= col("_keeper"))
      .select(col("doc_id").as("_dd"),
        explode(sequence(col("p"), col("p") + (n - 1))).as("cp"))
      .distinct()
    val rebuilt = base
      .select(col("doc_id"), posexplode(col("_toks")).as(Seq("tp0", "tok")))
      .select(col("doc_id"), (col("tp0") + 1).as("tp"), col("tok"))
      .join(dropPos, col("doc_id") === col("_dd") && col("tp") === col("cp"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("tp"), col("tok")))),
            x => x("tok")))).as("clean_md5"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        // a fully-dropped (or empty) doc hashes the empty string — the
        // same value concat_ws gives an empty token list
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = docs.select(col(idCol).as("doc_id"),
        filter(split(trim(lower(col(textCol))), "\\s+"),
          t => length(t) >= 1).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).as("n_tokens"), col("_toks"))
    // hash the grams INSIDE the enumeration so the exploded rows carry the
    // 128-bit digest, never the token array or the gram text
    // materialized once: the gram-hash kernel (the dominant per-doc cost)
    // feeds BOTH the repeated-set aggregate and the probe side of the
    // semi-join — the [[removeDupSpans]]/[[minhashLsh]] trade (guide §5)
    // gram digests carried as 16 raw bytes, not 32 hex chars — see the
    // [[removeDupSpans]] note (unhex is a bijection on md5 output, so the
    // repeated-set aggregate and the semi-join probe are unchanged)
    val pos = materialized(base.select(col("doc_id"), posexplode(
        when(col("n_tokens") >= n,
          transform(sequence(lit(1), col("n_tokens") - (n - 1)),
            p => unhex(md5(concat_ws(" ", slice(col("_toks"), p, lit(n)))))))
          .otherwise(array().cast("array<binary>"))).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("h")))
    val repeated = pos.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("_df"))
      .filter(col("_df") >= minDocs)
      .select(col("h"))
    // dup-position-sized (repeated grams only); feeds spans AND covered
    val dupPos = materialized(pos.join(repeated, Seq("h"), "left_semi"))
    val spans = dupPos.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_spans"))
    val covered = dupPos
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (n - 1))).as("cp"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("covered_tokens"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(spans, Seq("doc_id"), "left_outer")
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)) /
          greatest(col("n_tokens"), lit(1)), 6).as("dup_ratio"))
  }

  /** Cluster-representative selection — the keep-BEST policy the keep-any
    * dedup entries (d01's min id, [[exact]]) deliberately avoid: when a
    * near-dup cluster spans sources of different curation quality, the
    * pipeline keeps the copy from the most-trusted source (RefinedWeb /
    * Dolma keep wiki-grade text over its web mirrors), not an arbitrary
    * member. `clusters` is any (id, cluster_id) labeling (d08/d13's
    * connected components); `priority` ranks sources ascending-better.
    *
    * The representative is the lexicographic `min` of
    * (priority, id, source) — a plain struct-ordered `min`, so the whole
    * selection is ONE map-side-combined aggregate on cluster_id, no
    * window sort, no secondary shuffle; the unique id inside the struct
    * makes the pick deterministic under any priority ties. Docs absent
    * from `clusters` (never paired by LSH) ride through as their own
    * singleton clusters via the left join + coalesce, so the output is a
    * total partition of the corpus: every doc is exactly one cluster's
    * member, every cluster has exactly one representative. */
  def clusterRepresentatives(clusters: DataFrame, docs: DataFrame,
                             idCol: String, sourceCol: String,
                             priority: Column): DataFrame = {
    val labeled = docs
      // a null priority (e.g. a cast failure on an unexpected source
      // string) must sort LAST, not first: min(struct) treats null as
      // smallest, which would silently elect the unrankable doc as the
      // representative — coalesce to worst instead
      .select(col(idCol), col(sourceCol),
        coalesce(priority.cast("int"), lit(Int.MaxValue)).as("_prio"))
      .join(clusters.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    labeled.groupBy(col("cluster_id"))
      .agg(
        min(struct(col("_prio"), col(idCol), col(sourceCol))).as("_rep"),
        count(lit(1)).as("n_members"))
      .select(
        col("cluster_id"),
        col(s"_rep.$idCol").as("rep_id"),
        col(s"_rep.$sourceCol").as("rep_source"),
        col("_rep._prio").as("rep_priority"),
        col("n_members"),
        (col("n_members") - 1).as("n_dropped"))
  }

  /** [[clusterRepresentatives]] over a STORED cluster table — the
    * production posture at 100 TB: the LSH + connected-components chain
    * is a layout-time artifact written once (the d12 stored-index
    * pattern), and representative selection is a cheap query against it —
    * never an inline recompute of the whole pairing chain. `clustersPath`
    * is the parquet round-trip of a (id, cluster_id) labeling
    * ([[connectedComponents]]'s output). Results are identical to the
    * recompute form by construction (proven in DedupSpec). */
  def clusterRepresentativesStored(spark: org.apache.spark.sql.SparkSession,
                                   clustersPath: String, docs: DataFrame,
                                   idCol: String, sourceCol: String,
                                   priority: Column): DataFrame =
    clusterRepresentatives(Parquet.read(spark, clustersPath), docs,
      idCol, sourceCol, priority)

  /** INCREMENTALLY MAINTAINED NEAR-DUP PAIR GRAPH — the production
    * posture for the shared stored graph its five consumers label and
    * query: instead of rebuilding the whole-corpus graph per run, each
    * ingested batch appends to THREE [[TableFormat]] tables under
    * `graphRoot` — `pairs` (id_a, id_b, jaccard), `bands` (the LSH
    * index rows) and `sets` (the shingle-hash sets) — in ONE
    * maintenance call:
    *
    *  - candidates come ONLY from batch-vs-batch buckets and the
    *    batch-touched corpus buckets (the d09 ingest posture): the
    *    stored index joins against a BROADCAST of the batch's distinct
    *    (band, bucket) keys — no corpus-side shuffle, no all-pairs term
    *    anywhere; verification reads corpus shingle sets only for ids
    *    that survived the bucket cap;
    *  - the hot-bucket cap applies to the CUMULATIVE bucket (stored +
    *    batch rows), so a bucket that grows degenerate stops producing
    *    pairs the moment it crosses the cap — pairs it produced while
    *    small remain (the full rebuild drops the whole bucket; the two
    *    agree exactly whenever no bucket ever crosses the cap, which
    *    the proof entry's oracle pins);
    *  - each table carries a `graph.batch_seq` CURSOR in its commit
    *    props (the maintainView discipline): a replayed batch commits
    *    nothing (per-table, so a crash between the index and pair
    *    commits replays to exactly one state), a gap refuses, and a
    *    concurrent maintainer fails the CAS loudly. Corpus-side reads
    *    anti-join the batch's own ids, so a partial replay can never
    *    pair a batch against its own half-committed index rows.
    *
    * Batch ids must be new (the corpus tables never hold them twice —
    * the caller's ingest contract, same as every append). Cost per
    * call: O(batch shingling + touched buckets), never O(corpus).
    * Returns (pairs-table snapshot, new pairs committed). */
  def maintainPairGraph(spark: org.apache.spark.sql.SparkSession,
                        graphRoot: String, batch: DataFrame,
                        idCol: String, textCol: String,
                        k: Int, bands: Int, rowsPerBand: Int,
                        threshold: Double, maxBucketSize: Int,
                        batchSeq: Long): (TableFormat.Snapshot, Long) = {
    require(batchSeq >= 1, s"maintainPairGraph: batchSeq must be >= 1")
    val SeqProp = "graph.batch_seq"
    val pairsRoot = s"$graphRoot/pairs"
    val bandsRoot = s"$graphRoot/bands"
    val setsRoot = s"$graphRoot/sets"
    def cursorOf(root: String): Long =
      if (TableFormat.versions(spark, root).isEmpty) 0L
      else TableFormat.snapshot(spark, root).props
        .getOrElse(SeqProp, "0").toLong
    val pairsCur = cursorOf(pairsRoot)
    if (batchSeq <= pairsCur)
      return (TableFormat.snapshot(spark, pairsRoot), 0L) // replayed batch
    require(batchSeq == pairsCur + 1,
      s"maintainPairGraph: batchSeq $batchSeq gaps the cursor $pairsCur — " +
        "batches apply in order, exactly once")

    def commitBatch(root: String, df: DataFrame, keyCol: String): Unit = {
      val curSeq = cursorOf(root)
      if (batchSeq <= curSeq) return // this table already took the batch
      val out = s"$root/data/b$batchSeq-${java.util.UUID.randomUUID()}"
      df.write.mode("overwrite").parquet(out)
      val files = TableFormat.listParquet(spark, out)
      val stats =
        if (files.isEmpty) Seq.empty
        else TableFormat.fileStats(spark, files, keyCol, 1 << 12, 5)
      TableFormat.commitTransform(spark, root, keyCol, 1 << 12, 5,
        { curOpt =>
          val now = curOpt.flatMap(_.props.get(SeqProp))
            .map(_.toLong).getOrElse(0L)
          if (now != curSeq) throw new IllegalStateException(
            s"maintainPairGraph: concurrent maintainer moved $root's " +
              s"cursor ($now != $curSeq)")
          curOpt.map(_.files).getOrElse(Seq.empty) ++ stats
        },
        deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) +
          (SeqProp -> batchSeq.toString),
        deriveSchema = curOpt =>
          curOpt.flatMap(_.schemaDdl).orElse(Some(df.schema.toDDL)),
        op = Some("append"))
    }

    val idx = lshIndex(batch, idCol, textCol, k, bands, rowsPerBand)
    val batchIds = batch.select(col(idCol).as("_jid")).distinct()
    val batchBuckets = idx.bands.select(col("band"), col("bucket")).distinct()
    val haveCorpus = TableFormat.versions(spark, bandsRoot).nonEmpty
    // corpus index rows of the TOUCHED buckets only (broadcast semi
    // probe — the stored scan never shuffles); the batch's own ids are
    // excluded so a partial replay can never self-pair
    val corpusTouched =
      if (!haveCorpus) None
      else Some(TableFormat.read(spark,
          TableFormat.snapshot(spark, bandsRoot))
        .join(broadcast(batchBuckets), Seq("band", "bucket"))
        .join(broadcast(batchIds), Seq("_jid"), "left_anti"))
    val allBands = idx.bands.withColumn("_side", lit("b"))
      .unionByName(corpusTouched
        .map(_.select(col("_jid"), col("band"), col("bucket"))
          .withColumn("_side", lit("c")))
        .getOrElse(idx.bands.withColumn("_side", lit("b")).limit(0)))
    // cumulative hot-bucket cap: stored + batch rows per (band, bucket)
    val sized = allBands.withColumn("_sz",
      count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
    val capped = materialized(
      sized.filter(col("_sz") <= maxBucketSize).drop("_sz"))
    val probe = capped.filter(col("_side") === "b")
      .select(col("band"), col("bucket"), col("_jid").as("_bid"))
    val build = capped
      .select(col("band"), col("bucket"), col("_jid").as("_oid"), col("_side"))
    val cand = probe.join(build, Seq("band", "bucket"))
      .filter((col("_side") === "c") || (col("_oid") < col("_bid")))
      .select(least(col("_bid"), col("_oid")).as("id_a"),
        greatest(col("_bid"), col("_oid")).as("id_b"))
      .distinct()
    // shingle sets: the batch's own plus corpus sets for surviving
    // candidate ids only (bounded by cap x touched buckets)
    val corpusSets =
      if (!haveCorpus) None
      else Some(TableFormat.read(spark, TableFormat.snapshot(spark, setsRoot))
        .join(capped.filter(col("_side") === "c")
          .select(col("_jid")).distinct(), Seq("_jid"), "left_semi")
        .select(col("_jid"), col("_jset")))
    val sets = idx.sets.select(col("_jid"), col("_jset"))
      .unionByName(corpusSets.getOrElse(
        idx.sets.select(col("_jid"), col("_jset")).limit(0)))
    val newPairs = cand
      .join(sets.select(col("_jid").as("id_a"), col("_jset").as("_aset")), "id_a")
      .join(sets.select(col("_jid").as("id_b"), col("_jset").as("_bset")), "id_b")
      .filter(jaccard_ge(col("_aset"), col("_bset"), threshold))
      .withColumn("jaccard", round(jaccard_sorted(col("_aset"), col("_bset")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // index tables first, pairs (the authoritative cursor) last — a
    // crash in between replays to exactly one state
    commitBatch(bandsRoot,
      idx.bands.select(col("_jid"), col("band"), col("bucket")), "_jid")
    commitBatch(setsRoot,
      idx.sets.select(col("_jid"), col("_jset")), "_jid")
    val before =
      if (TableFormat.versions(spark, pairsRoot).isEmpty) 0L
      else TableFormat.snapshot(spark, pairsRoot).files.map(_.nRows).sum
    commitBatch(pairsRoot, newPairs, "id_a")
    val snap = TableFormat.snapshot(spark, pairsRoot)
    (snap, snap.files.map(_.nRows).sum - before)
  }

  /** INCREMENTALLY MAINTAINED COMPONENT LABELS over the
    * [[maintainPairGraph]] graph — the production complement to the
    * from-scratch labelers ([[connectedComponents]] /
    * [[connectedComponentsStar]], the #1 per-run cost family at scale):
    * instead of re-labeling the whole corpus after every ingested
    * batch, one call consumes the pairs table's changelog past a
    * stored cursor and repairs the label table in O(batch +
    * touched components):
    *
    *  1. the NEW pairs' endpoints look up their current representative
    *     (self when unlabeled) — the labels table is KEY-clustered by
    *     `id`, so the lookup reads only the files whose id range can
    *     hold an endpoint;
    *  2. the batch CONTRACTS to a graph over representatives (O(batch)
    *     nodes — every stored component is one node) and a star-
    *     contraction CC labels it; reps whose label moved form the
    *     REMAP (old rep → merged component's min id — the global min,
    *     because stored reps are their components' minima: the
    *     invariant this maintenance preserves);
    *  3. only rows whose `rep` is remapped rewrite — `rep` is a
    *     declared ZONE column, so the rewrite touches only files whose
    *     rep bounds intersect the remap — and new endpoints append.
    *
    * The cursor (`labels.pairs_version` in the label table's props)
    * makes replays no-ops and concurrent maintainers fail the CAS.
    * After any sequence of batches the table equals the from-scratch
    * CC of the full pairs graph (the proof entry's oracle). Returns
    * (snapshot, rowsRemapped, rowsAppended). */
  def maintainLabels(spark: org.apache.spark.sql.SparkSession,
                     graphRoot: String, maxIter: Int = 25,
                     collectCap: Int = 1 << 16)
      : (TableFormat.Snapshot, Long, Long) = {
    val pairsRoot = s"$graphRoot/pairs"
    val labelsRoot = s"$graphRoot/labels"
    require(TableFormat.versions(spark, pairsRoot).nonEmpty,
      s"maintainLabels: no pairs table under $graphRoot")
    val head = TableFormat.snapshot(spark, pairsRoot)
    val have = TableFormat.versions(spark, labelsRoot).nonEmpty
    val labelsSnap = if (have) Some(TableFormat.snapshot(spark, labelsRoot)) else None
    val cursor = labelsSnap.flatMap(_.props.get("labels.pairs_version"))
      .map(_.toLong).getOrElse(0L)
    if (cursor >= head.version) return (labelsSnap.get, 0L, 0L)

    // batch = pairs committed past the cursor (bootstrap: the whole
    // graph IS the first batch); bounded by the ingest batch size
    val newPairs = (if (cursor == 0L) TableFormat.read(spark, head)
        else TableFormat.changesBetween(spark, pairsRoot, cursor, head.version)
          .filter(col("_change") === "insert"))
      .select(col("id_a"), col("id_b")).localCheckpoint()

    // endpoint -> current representative (labels pruned to the files
    // whose id bounds can hold an endpoint; self when unlabeled)
    def prunedLabelRead(snap: TableFormat.Snapshot, colName: String,
                        keys: Array[Long]): DataFrame = {
      val sorted = keys.sorted
      def hit(mn: Long, mx: Long) = {
        val i = java.util.Arrays.binarySearch(sorted, mn)
        val from = if (i >= 0) i else -i - 1
        from < sorted.length && sorted(from) <= mx
      }
      val subset = snap.files.filter { f =>
        val bounds =
          if (colName == snap.keyCol) Some((f.minKey, f.maxKey))
          else f.zones.get(colName)
        bounds.forall { case (mn, mx) => hit(mn, mx) }
      }
      if (subset.isEmpty) TableFormat.read(spark, snap).limit(0)
      else TableFormat.read(spark, snap.copy(files = subset))
    }
    val endpoints = newPairs.select(col("id_a").as("id"))
      .union(newPairs.select(col("id_b").as("id"))).distinct()
      .localCheckpoint()
    val endpointKeys = endpoints.limit(collectCap + 1).collect()
      .map(_.getLong(0))
    val storedForLookup = labelsSnap.map { snap =>
      if (endpointKeys.length > collectCap) TableFormat.read(spark, snap)
      else prunedLabelRead(snap, snap.keyCol, endpointKeys)
    }
    val reps = storedForLookup match {
      case Some(l) => endpoints.join(l, Seq("id"), "left")
        .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
      case None => endpoints.select(col("id"), col("id").as("rep"))
    }
    val repsCk = reps.localCheckpoint()

    // contract to the representative graph and label it: O(batch)
    val repEdges = newPairs
      .join(repsCk.select(col("id").as("id_a"), col("rep").as("__ra")), "id_a")
      .join(repsCk.select(col("id").as("id_b"), col("rep").as("__rb")), "id_b")
      .select(col("__ra").as("id_a"), col("__rb").as("id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val remap =
      if (repEdges.isEmpty) repEdges.select(col("id_a").as("rep"),
        col("id_b").as("__new_rep")).limit(0)
      else connectedComponentsStar(repEdges, maxIter = maxIter)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("rep"), col("cluster_id").as("__new_rep"))
    val remapCk = remap.localCheckpoint()
    val remapKeys = remapCk.select(col("rep")).limit(collectCap + 1)
      .collect().map(_.getLong(0))

    // fresh endpoints append with their final label; stored rows whose
    // rep is remapped rewrite (zone-pruned to the remap's rep bounds)
    val fresh = (storedForLookup match {
        case Some(l) => endpoints.join(l.select(col("id")), Seq("id"), "left_anti")
        case None => endpoints
      })
      .join(repsCk, Seq("id"))
      .join(broadcast(remapCk), Seq("rep"), "left")
      .select(col("id"), coalesce(col("__new_rep"), col("rep")).as("rep"))
    val outDir = s"$labelsRoot/data/l${head.version}-${java.util.UUID.randomUUID()}"
    val freshFiles = {
      val rows = fresh.sort(col("id"))
      rows.write.mode("overwrite").parquet(s"$outDir/fresh")
      TableFormat.listParquet(spark, s"$outDir/fresh")
    }
    val (rewriteOld, rewriteNew, nRemapped) = labelsSnap match {
      case Some(snap) if remapKeys.nonEmpty =>
        val affected =
          if (remapKeys.length > collectCap) snap.files
          else {
            val sorted = remapKeys.sorted
            snap.files.filter { f =>
              f.zones.get("rep").forall { case (mn, mx) =>
                val i = java.util.Arrays.binarySearch(sorted, mn)
                val from = if (i >= 0) i else -i - 1
                from < sorted.length && sorted(from) <= mx
              }
            }
          }
        if (affected.isEmpty) (Seq.empty[String], Seq.empty[String], 0L)
        else {
          val before = TableFormat.read(spark, snap.copy(files = affected))
            .localCheckpoint()
          val n = before.join(broadcast(remapCk.select(col("rep"))),
            Seq("rep"), "left_semi").count()
          val rewritten = before
            .join(broadcast(remapCk), Seq("rep"), "left")
            .select(col("id"), coalesce(col("__new_rep"), col("rep")).as("rep"))
            .sort(col("id"))
          rewritten.write.mode("overwrite").parquet(s"$outDir/rewrite")
          val files = TableFormat.listParquet(spark, s"$outDir/rewrite")
          (affected.map(_.file), files, n)
        }
      case _ => (Seq.empty[String], Seq.empty[String], 0L)
    }
    val nFresh =
      if (freshFiles.isEmpty) 0L
      else Parquet.read(spark, freshFiles: _*).count()
    val allNew = freshFiles ++ rewriteNew
    val newStats =
      if (allNew.isEmpty) Seq.empty
      else TableFormat.fileStats(spark, allNew, "id", 1 << 12, 5,
        zoneCols = Seq("rep"))
    val snap = TableFormat.commitTransform(spark, labelsRoot, "id", 1 << 12, 5,
      { curOpt =>
        val now = curOpt.flatMap(_.props.get("labels.pairs_version"))
          .map(_.toLong).getOrElse(0L)
        if (now != cursor) throw new IllegalStateException(
          s"maintainLabels: concurrent maintainer moved the cursor " +
            s"($now != $cursor) at $labelsRoot")
        val dropped = rewriteOld.toSet
        curOpt.map(_.files).getOrElse(Seq.empty)
          .filterNot(f => dropped.contains(f.file)) ++ newStats
      },
      deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) +
        ("labels.pairs_version" -> head.version.toString),
      deriveSchema = curOpt => curOpt.flatMap(_.schemaDdl)
        .orElse(Some("id BIGINT, rep BIGINT")),
      op = Some("labels"))
    (snap, nRemapped, nFresh)
  }
}
