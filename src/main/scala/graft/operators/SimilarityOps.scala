package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{StableHash, TextFunctions, VectorFunctions}

/** Near-duplicate detection and similarity search, bucketed for scale.
  *
  * The common shape of every operator here is BLOCK → VERIFY: a cheap
  * map-side signature assigns each record to a small number of buckets,
  * candidate pairs are generated ONLY within a bucket (one shuffle on the
  * bucket key), and the exact measure (Jaccard, cosine) runs on the
  * candidates alone. Nothing in this file compares all pairs — an
  * all-pairs join is O(n²) and unrunnable at 100 TB, while bucket sizes
  * stay bounded so the candidate join stays near-linear.
  *
  * Everything is codegen'd Catalyst expressions over md5 / universal
  * hashing ([[graft.functions.StableHash]]) so the DuckDB oracle can
  * reproduce each hash bit-for-bit.
  *
  * The reference has no near-dup machinery (its dedup is keyed keep-first,
  * `app/dws/DwsTradeSkuOrderWindow.java:111-148`); this extends the engine
  * to the training-data-pipeline surface (MinHash/LSH per Broder '97,
  * sign-bit LSH per Charikar '02).
  */
object SimilarityOps {

  /** Per-document shingle arrays `(__id, __sh)` (duplicates retained —
    * consumers that need SET semantics distinct at the point of use) —
    * the shared input of signature building and exact verification.
    * Persist the returned frame when both consumers run in one query
    * (tokenization + shingling is the dominant map-side cost). */
  def shingleSets(df: DataFrame, id: Column, text: Column,
                  shingleN: Int): DataFrame =
    df.select(id.as("__id"),
      TextFunctions.shinglesFromTokens(
        TextFunctions.tokens(TextFunctions.normalized(text)), shingleN).as("__sh"))

  /** MinHash signature from shingle sets: one row per id with columns
    * mh0..mh{k-1}. Single shuffle: explode → groupBy(id) with k
    * min-aggregates (map-side partial aggregation applies). */
  def minhashSignature(sets: DataFrame, k: Int): DataFrame =
    minhashAgg(sets.select(col("__id"), explode(col("__sh")).as("__shingle"))
      .select(col("__id"), StableHash.stableMod(col("__shingle")).as("__h")), k)

  /** [[minhashSignature]] over PRE-HASHED shingle sets `(__id, __sh:
    * array<long>)` (stable60 values): the explode emits 8-byte longs and
    * the per-shingle md5 was already paid when the hashed frame was
    * built — the §2.3 "shuffle keys, not payloads" form the verified-pair
    * pipeline uses so the SAME hashed frame feeds signature AND verify. */
  def minhashSignatureHashed(hsets: DataFrame, k: Int): DataFrame =
    minhashAgg(hsets.select(col("__id"), explode(col("__sh")).as("__h60"))
      .select(col("__id"), (col("__h60") % StableHash.MersennePrime).as("__h")), k)

  private def minhashAgg(hv: DataFrame, k: Int): DataFrame = {
    val params = StableHash.minhashParams(k)
    hv.groupBy("__id")
      .agg(min(StableHash.perm(col("__h"), params.head._1, params.head._2)).as("mh0"),
        params.zipWithIndex.tail.map { case ((a, b), i) =>
          min(StableHash.perm(col("__h"), a, b)).as(s"mh$i")
        }: _*)
  }

  /** LSH banding: k signature columns → one row per (id, band) with the
    * band's md5 bucket key. bandSize rows OR-ed into nBands buckets. */
  def lshBands(sig: DataFrame, k: Int, bandSize: Int): DataFrame = {
    require(k % bandSize == 0, s"k=$k not divisible by bandSize=$bandSize")
    val bands = (0 until k / bandSize).map { b =>
      val cols = (b * bandSize until (b + 1) * bandSize)
        .map(i => col(s"mh$i").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("sig"))
    }
    sig.select(col("__id"), explode(array(bands: _*)).as("bs"))
      .select(col("__id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** [[lshBands]] with NUMERIC band keys: each band's `bandSize` MinHash
    * values (each < 2^31, the Mersenne modulus) pack pairwise into
    * longs — `sig_i = mh_{2i} * 2^31 + mh_{2i+1}` — instead of hashing
    * their concatenation to a 32-char md5 string. The packing is
    * INJECTIVE (no collisions, unlike md5), so bucket membership is
    * exact tuple equality, and the band exchange carries 8-byte longs
    * instead of md5 hex (§2.3 "narrower types"). The md5 form stays for
    * the persisted band INDEX ([[graft.apps.IncrementalReleaseApp]]),
    * whose directory layout prunes on hex-string prefixes.
    * Key columns: (band, sig1[, sig2, ...]) — see [[packedSigKeys]]. */
  def minhashBandsPacked(sig: DataFrame, k: Int, bandSize: Int): DataFrame = {
    require(k % bandSize == 0, s"k=$k not divisible by bandSize=$bandSize")
    val nSig = (bandSize + 1) / 2
    val bands = (0 until k / bandSize).map { b =>
      val ms = (0 until bandSize).map(i => col(s"mh${b * bandSize + i}"))
      val packed = ms.grouped(2).toSeq.map {
        case Seq(x, y) => shiftleft(x, 31).bitwiseOR(y)
        case Seq(x) => x
      }
      struct(lit(b).as("band") +:
        packed.zipWithIndex.map { case (c, i) => c.as(s"sig${i + 1}") }: _*)
    }
    sig.select(col("__id"), explode(array(bands: _*)).as("bs"))
      .select(col("__id") +: col("bs.band").as("band") +:
        (1 to nSig).map(i => col(s"bs.sig$i").as(s"sig$i")): _*)
  }

  /** The bucket-key column names [[minhashBandsPacked]] emits. */
  def packedSigKeys(bandSize: Int): Seq[String] =
    "band" +: (1 to (bandSize + 1) / 2).map(i => s"sig$i")

  /** Candidate pairs = distinct (a < b) sharing at least one LSH bucket.
    * The self-join shuffles on (band, sig) — bucket-local, never
    * all-pairs. Buckets larger than `maxBucket` are SKIPPED: a flood of
    * identical/near-identical documents would otherwise make one bucket
    * quadratic (cap² pairs per bucket is the worst case this guard
    * admits). Exact-duplicate floods belong to the exact-dedup pass
    * (d1), which handles them linearly — the cap is the documented
    * recall trade that keeps the pair join bounded on adversarial
    * corpora. */
  def candidatePairs(bands: DataFrame, maxBucket: Int = 1000): DataFrame =
    pairsWithinBuckets(bands, Seq("band", "sig"), maxBucket)

  /** Bucket-capped within-bucket pairs over arbitrary bucket-key columns
    * — the shared block stage behind [[candidatePairs]] and the packed-
    * key MinHash pipeline. ONE exchange (the groupBy) replaces the old
    * window-count + self-join form, which cost a sort for the window,
    * re-computed the whole upstream signature pipeline once per join
    * side, and exchanged the bucket rows twice (§2.4 "remove shuffles
    * outright"). `collect_list` gathers each WHOLE bucket before the
    * `maxBucket` cap (the d3-documented flood cap) filters it, so the
    * cap bounds the emitted pairs — the same quadratic bound the join
    * form admitted — but not the buffer: a degenerate bucket key still
    * builds one unspillable array of unbounded size (a known defect,
    * still open). Same bucket semantics, same cap, same pair set. */
  def pairsWithinBuckets(bands: DataFrame, keys: Seq[String],
                         maxBucket: Int = 1000): DataFrame = {
    bands.groupBy(keys.map(col): _*)
      .agg(collect_list(col("__id")).as("__ids"))
      .filter(size(col("__ids")) <= maxBucket)
      .select(explode(col("__ids")).as("a"), col("__ids"))
      .select(col("a"), explode(col("__ids")).as("b"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the documents'
    * shingle arrays; keeps pairs with jaccard >= threshold. The distinct
    * (set) view of each array is taken HERE, after the pair join — it
    * runs on candidate rows only (a few hundred), not the whole corpus. */
  def jaccardVerify(pairs: DataFrame, sets: DataFrame,
                    threshold: Double): DataFrame = {
    val sa = array_distinct(col("__sha"))
    val sb = array_distinct(col("__shb"))
    val inter = size(array_intersect(sa, sb))
    val uni = size(sa) + size(sb) - inter
    pairs
      .join(sets.select(col("__id").as("a"), col("__sh").as("__sha")), "a")
      .join(sets.select(col("__id").as("b"), col("__sh").as("__shb")), "b")
      .withColumn("jaccard", inter.cast("double") / uni.cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** SimHash fingerprint over the distinct-token set: bit j of the result
    * is 1 iff the count of tokens whose stable60 has bit j set exceeds the
    * count of those that don't. Near-identical vocabularies collapse to
    * identical fingerprints (Charikar '02). One explode + one groupBy. */
  def simhash(df: DataFrame, id: Column, text: Column, bits: Int): DataFrame = {
    val h = StableHash.stable60(col("__tok"))
    val sums = (0 until bits).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s$j")
    }
    val fp = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    df.select(id.as("__id"),
        explode(array_distinct(TextFunctions.tokens(TextFunctions.normalized(text)))).as("__tok"))
      .select(col("__id"), h.as("__h"))
      .groupBy("__id").agg(sums.head, sums.tail: _*)
      .select(col("__id"), fp.as("simhash"))
  }

  /** Hamming-distance bands over a SimHash fingerprint column `simhash`:
    * the `bits`-bit fingerprint splits into `nBands` contiguous bit-bands
    * (one row per (id, band) with the band value as the bucket key). By
    * pigeonhole, two fingerprints within Hamming distance `nBands - 1`
    * differ in at most `nBands - 1` bands and therefore SHARE at least one
    * band unchanged — banding is a lossless blocker for any
    * `maxHamming <= nBands - 1`. Same explode shape as [[lshBands]]. */
  def simhashBands(fp: DataFrame, bits: Int, nBands: Int): DataFrame = {
    require(bits % nBands == 0, s"bits=$bits not divisible by nBands=$nBands")
    val bandBits = bits / nBands
    val mask = (1L << bandBits) - 1
    val bands = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))
          .cast("string").as("sig"))
    }
    fp.select(col("__id"), explode(array(bands: _*)).as("bs"))
      .select(col("__id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** SimHash NEAR-dup (Hamming-band blocked): fingerprints band-bucketed
    * per [[simhashBands]], candidate pairs share at least one band, exact
    * verification keeps pairs with popcount(xor) <= maxHamming — the
    * block→verify shape of [[candidatePairs]]/[[jaccardVerify]], never
    * all-pairs. (Exact-equality grouping — the d4 variant — only finds
    * identical fingerprints; the whole point of SimHash (Charikar '02) is
    * that NEAR-identical vocabularies land within a small Hamming ball,
    * which needs this banded search.) */
  def simhashNearDup(df: DataFrame, id: Column, text: Column, bits: Int,
                     nBands: Int, maxHamming: Int,
                     maxBucket: Int = 1000): DataFrame = {
    require(maxHamming < nBands,
      s"banding is lossless only for maxHamming < nBands ($maxHamming >= $nBands)")
    require(bits % nBands == 0, s"bits=$bits not divisible by nBands=$nBands")
    // The fingerprint is ONE long, so it rides the band rows and the
    // Hamming verify runs INSIDE the bucket self-join — the generic
    // [[candidatePairs]]→join-back-the-payload shape (right for heavy
    // verification payloads like shingle arrays) cost d7 a distinct
    // exchange over every raw candidate (1.46 M pairs at sf0.1, hot
    // common-vocabulary buckets) plus two more passes to re-attach the
    // fingerprints; here non-qualifying pairs die in the codegen'd
    // filter before ANY exchange and the distinct handles only
    // qualifying pairs' multi-band collisions. Same pair set, same cap
    // semantics (buckets > maxBucket skipped — the d3-documented
    // recall trade), same hamming values — the oracle is unchanged.
    val fp = simhash(df, id, text, bits) // single consumer — no persist
    val bandBits = bits / nBands
    val mask = (1L << bandBits) - 1
    // NUMERIC band sig (r15 verdict item): the band value stays the long
    // it is born as — the old cast("string") shuffled and compared
    // decimal renderings (same equality, more bytes, slower key).
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))
          .as("sig"))
    }
    val bands = fp.select(col("__id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("__id"), col("simhash"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    // One groupBy(band, sig) replaces window-count + self-join (the
    // [[pairsWithinBuckets]] shape): the fingerprint pipeline runs once,
    // not once per join side, and there is no window sort. The bucket
    // array carries (id, fingerprint) structs so the Hamming verify
    // still runs before the distinct, on qualifying pairs only.
    bands.groupBy("band", "sig")
      .agg(collect_list(struct(col("__id"), col("simhash"))).as("__xs"))
      .filter(size(col("__xs")) <= maxBucket)
      .select(explode(col("__xs")).as("__x"), col("__xs"))
      .select(col("__x"), explode(col("__xs")).as("__y"))
      .filter(col("__x.__id") < col("__y.__id"))
      .withColumn("hamming",
        bit_count(col("__x.simhash").bitwiseXOR(col("__y.simhash"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("__x.__id").as("a"), col("__y.__id").as("b"), col("hamming"))
      .distinct()
  }

  /** Cosine from a pairwise dot and two PREcomputed norms. Norms are
    * hoisted to one-per-vector before any pair join — recomputing them
    * per candidate pair multiplies the vector-fold cost by the mean
    * bucket size, which is the dominant cost at scale. Bit-identical to
    * [[VectorFunctions.cosine]] (same subexpressions, same order). */
  private def cosineFromParts(d: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(d / (na * nb))

  /** Brute-force cosine top-k: the CORRECTNESS baseline for ANN. Probes
    * are broadcast (they are few); every (probe, corpus) cosine is
    * computed map-side; the only shuffle is the per-probe top-k window.
    * At scale the candidate set must be cut first — see [[lshBucketAnn]]. */
  def annBruteForce(probes: DataFrame, corpus: DataFrame, topK: Int): DataFrame = {
    val c = corpus.withColumn("__nb", sqrt(VectorFunctions.norm2(col("embedding"))))
    val p = probes.withColumn("__na", sqrt(VectorFunctions.norm2(col("q_vec"))))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_sim", cosineFromParts(
        VectorFunctions.dot(col("q_vec"), col("embedding")),
        col("__na"), col("__nb")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** Int8 scalar-quantized ANN with exact rerank — the MEMORY lever at
    * 100 TB: a 4-byte-float embedding column quantizes to 1-byte codes
    * (q[i] = round(x[i]·127/max|x|) plus one scale per vector), so the
    * resident candidate-scan set shrinks 4× and the inner loop becomes
    * an integer dot (exact int64 — no float-order concerns in the
    * scoring scan). Candidates are ranked by the dequantized score
    * (qdot·scale/‖b‖ — monotone in the probe, so probe-side constants
    * drop out), the top `rerankK` per probe are re-scored with the EXACT
    * float cosine (identical expression to [[annBruteForce]]), and the
    * final top-k comes from the rerank — quantization error can only
    * cost recall (gated ≥ 0.9 in `AnnRecallSpec`; 1.0 at sf0.01), never
    * wrong scores. Fully oracle-expressible: integer quantization and
    * the fixed-order float chain reproduce bit-for-bit in DuckDB. */
  def annQuantized(corpus: DataFrame, isProbe: Column, topK: Int,
                   rerankK: Int): DataFrame = {
    // The quantized frame is referenced exactly ONCE (the candidate
    // scan), so it needs no persist (an earlier draft cached it and
    // leaked the blocks for the session lifetime): probes are few — re-
    // quantizing them from the raw corpus is map-side noise — and the
    // rerank reads raw (vec_id, embedding) columns, which is what a
    // 100 TB run does anyway (the corpus doesn't fit cache; the codes
    // are the MATERIALIZED index there, not a cache entry).
    val quantized = quantizeCodes(corpus)
    val probes = quantized.filter(isProbe)
      .select(col("vec_id").as("q_id"), col("qv").as("qa"))
    val scored = quantized.select(col("vec_id"), col("qv"), col("maxabs"), col("__nb"))
      .crossJoin(broadcast(probes))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("r", dequantizedRank)
    exactRerank(corpus, isProbe, scored, rerankK, topK)
  }

  /** int8 scalar quantization — adds `maxabs` (the per-vector scale),
    * `__nb` (the float norm) and `qv` (the codes) to `df`. A ZERO vector
    * has maxabs=0, so x·127/maxabs would be NaN — and NaN sorts GREATEST
    * under desc ordering, flooding every candidate set (and DuckDB's NaN
    * ordering diverges). Zero vectors quantize to zero CODES instead,
    * matching cosineFromParts' zero-norm convention. Shared by
    * [[annQuantized]] and [[ivfQuantizedAnn]] — one drifting from the
    * other would silently de-sync their oracles. An already-present
    * `__nb` column is reused (assignCells computes the identical norm;
    * Spark does not CSE across independently-defined columns, so
    * recomputing it would cost a second full self-dot per vector). */
  private def quantizeCodes(df: DataFrame): DataFrame = {
    val withNorm = if (df.columns.contains("__nb")) df
      else df.withColumn("__nb", sqrt(VectorFunctions.norm2(col("embedding"))))
    withNorm
      .withColumn("maxabs",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("qv", when(col("maxabs") === 0.0,
          transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => round(x.cast("double") * lit(127.0) / col("maxabs")).cast("long"))))
  }

  /** Dequantized candidate score r = qdot·scale/‖b‖ over the exact int64
    * code dot (columns `qa`/`qv`/`maxabs`/`__nb`); monotone in the probe
    * so probe-side constants drop out. Zero-norm candidates score 0. */
  private def dequantizedRank: Column = {
    val qdot = aggregate(
      zip_with(col("qa"), col("qv"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    when(col("__nb") === 0.0, lit(0.0)).otherwise(
      (qdot.cast("double") * (col("maxabs") / lit(127.0))) / col("__nb"))
  }

  /** Exact-cosine rerank: candidate selection runs on a NARROW
    * (q_id, vec_id, r) projection — only 16 bytes + the rank key per
    * scored row reach the crnk window exchange; shuffling the float
    * vectors here would cost more than the quantization saved (the codes
    * are for the SCAN, the window moves ids only). Survivors (≤ probes ×
    * rerankK rows) are tiny; they broadcast back against the corpus to
    * fetch vectors for the exact rerank, whose cosine is identical to
    * [[annBruteForce]]'s — quantization error can only cost recall,
    * never wrong scores. */
  private def exactRerank(corpus: DataFrame, isProbe: Column,
                          scored: DataFrame, rerankK: Int, topK: Int,
                          broadcastProbes: Boolean = true): DataFrame = {
    // serving mode (broadcastProbes): survivors and probe vectors are
    // tiny relative to the corpus — ship them to every executor, zero
    // shuffle of the corpus. Batch mode: with 1M+ probes the survivor
    // set (probes × rerankK) and the probe vectors no longer fit a
    // broadcast build on the driver; the same joins run shuffled on
    // the high-cardinality q_id/vec_id keys instead.
    // the batch gate HINTS shuffle_hash rather than merely dropping
    // the broadcast hint: the optimizer would otherwise re-introduce a
    // driver broadcast build whenever its size estimate fits the
    // threshold — the exact failure mode batch mode exists to prevent
    val gate: DataFrame => DataFrame =
      if (broadcastProbes) broadcast else (df => df.hint("shuffle_hash"))
    val cand = scored
      .select(col("q_id"), col("vec_id"), col("r"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("r").desc, col("vec_id"))))
      .filter(col("crnk") <= rerankK)
      .select(col("q_id"), col("vec_id"))
    val withNb = corpus
      .withColumn("__nb", sqrt(VectorFunctions.norm2(col("embedding"))))
    val probeVecs = withNb.filter(isProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("__nb").as("__na"))
    // the OUTER gate matters: a join hint is consumed by its nearest
    // join, so without re-gating the composed survivors frame the final
    // corpus join would fall back to the optimizer's size estimate — in
    // serving mode that broadcast is exactly intended (survivors are
    // tiny), in batch mode it would re-open the driver-build hole
    gate(gate(cand).join(gate(probeVecs), "q_id"))
      .join(withNb.select(col("vec_id"), col("embedding"), col("__nb")), "vec_id")
      .withColumn("cos_sim", cosineFromParts(
        VectorFunctions.dot(col("q_vec"), col("embedding")),
        col("__na"), col("__nb")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** Brute-force ANN via the bounded top-k AGGREGATOR instead of a
    * row_number window: identical output to [[annBruteForce]], but the
    * per-probe top-k is computed with map-side partial aggregation
    * ([[graft.functions.TopK]]) — only k rows per (probe × partition)
    * reach the shuffle, where the window form shuffles every scored
    * candidate. The 100 TB form of per-group top-k. */
  def annBruteForceAgg(probes: DataFrame, corpus: DataFrame, topK: Int): DataFrame = {
    val c = corpus.withColumn("__nb", sqrt(VectorFunctions.norm2(col("embedding"))))
    val p = probes.withColumn("__na", sqrt(VectorFunctions.norm2(col("q_vec"))))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_sim", cosineFromParts(
        VectorFunctions.dot(col("q_vec"), col("embedding")),
        col("__na"), col("__nb")))
    scored.groupBy("q_id")
      .agg(graft.functions.TopK.topK(topK)(col("cos_sim"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "sc")))
      .select(col("q_id"), col("sc._2").as("vec_id"),
        (col("pos") + 1).cast("int").as("rank"), col("sc._1").as("cos_sim"))
  }

  /** Sign-bit-LSH ANN, multi-table with in-band multiprobe (the classic
    * Indyk–Motwani OR-of-L-tables construction, same banding shape as
    * MinHash-LSH): the `planes.size` sign bits split into `nTables` bands
    * of k bits; a candidate matches the probe in ANY band — and with
    * `multiprobe = 1` also in any band at Hamming distance 1 (near
    * neighbors that landed just across ONE hyperplane are single-bucket
    * LSH's dominant recall loss, and flipping one band bit is exactly
    * where they are).
    *
    * Scale shape: corpus rows fan out to `nTables` (map-side explode, no
    * shuffle — the probe side is the broadcast one and additionally fans
    * out k+1 variants per band under multiprobe); the join is band-
    * bucket-local; the pair set dedups before ranking because one pair
    * can collide in several tables. Recall at a given (L, k) IMPROVES
    * with corpus density (denser corpus ⇒ true neighbors angularly
    * closer ⇒ higher per-band collision probability), so a sparse test
    * corpus is the worst case; the knobs trade candidates for recall the
    * standard way (more tables / probes up, k down ⇒ higher recall). */
  def lshBucketAnn(probes: DataFrame, corpus: DataFrame,
                   planes: Seq[Seq[Double]], topK: Int,
                   nTables: Int = 1, multiprobe: Int = 0): DataFrame = {
    val nP = planes.size
    require(nP % nTables == 0, s"planes=$nP not divisible by nTables=$nTables")
    val k = nP / nTables
    def bands(sig: Column): Column = array((0 until nTables).map { t =>
      struct(lit(t).as("tbl"), substring(sig, t * k + 1, k).as("bucket"))
    }: _*)
    // the full signature is aliased in its OWN projection before the
    // explode: referenced 2·nTables times by the band structs, the alias
    // blocks CollapseProject from inlining — inlined, the nP plane dots
    // would be recomputed per band and the generated code grows nTables×
    // (measured 8.4s → this shape's cost at sf0.1: the signature is
    // computed once per row)
    val bucketed = corpus
      .withColumn("__nb", sqrt(VectorFunctions.norm2(col("embedding"))))
      .withColumn("__sig", VectorFunctions.signBits(col("embedding"), planes))
      .withColumn("tb", explode(bands(col("__sig"))))
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"),
        col("vec_id"), col("embedding"), col("__nb"))
    val pb0 = probes
      .withColumn("__na", sqrt(VectorFunctions.norm2(col("q_vec"))))
      .withColumn("__sig", VectorFunctions.signBits(col("q_vec"), planes))
      .withColumn("tb", explode(bands(col("__sig"))))
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket0"),
        col("q_id"), col("q_vec"), col("__na"))
    val pb =
      if (multiprobe == 0) pb0.withColumnRenamed("bucket0", "bucket")
      else {
        val variants = col("bucket0") +: (0 until k).map { i =>
          concat(substring(col("bucket0"), 1, i),
            when(substring(col("bucket0"), i + 1, 1) === "1", lit("0"))
              .otherwise(lit("1")),
            substring(col("bucket0"), i + 2, k - i - 1))
        }
        pb0.withColumn("bucket", explode(array(variants: _*))).drop("bucket0")
      }
    val cand = bucketed.join(broadcast(pb), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_sim", cosineFromParts(
        VectorFunctions.dot(col("q_vec"), col("embedding")),
        col("__na"), col("__nb")))
      .select(col("q_id"), col("vec_id"), col("cos_sim"))
      .distinct() // one pair may collide in several tables
    cand
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** Deterministic Lloyd's k-means codebook, oracle-reproducible.
    *
    * Init: the k lowest vec_ids (fixed seed). Each iteration assigns every
    * vector to its nearest centroid by cosine (ties → lowest cid) and
    * recomputes each centroid as the member mean. The mean is computed
    * over SCALED INTEGERS — `sum(round(x·10⁶))` is an exact, ORDER-
    * INDEPENDENT integer sum, where a float sum would depend on Spark's
    * nondeterministic partial-aggregation order and could never hash-match
    * the oracle; the single division back to double is correctly rounded
    * identically in both engines. A cluster that loses all members drops
    * out (both engines agree).
    *
    * Scale shape: one explode + one (cid, pos) aggregation per iteration
    * (map-side partial applies); centroids stay a broadcast-size frame. */
  def kmeansCodebook(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = corpus.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"),
        transform(col("embedding"), x => x.cast("double")).as("cvec"))
    for (_ <- 0 until iters) {
      val assigned = assignCells(corpus, cents, nprobe = 1)
        .select(col("vec_id"), col("embedding"), col("cluster"))
      cents = assigned
        .select(col("cluster").as("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((sum(round(col("x").cast("double") * 1e6).cast("long"))
          / count(lit(1)) / lit(1e6)).as("c"))
        .groupBy("cid")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("cvec"))
    }
    // materialize the trained book eagerly: the k-iteration plan NESTS
    // (each iteration's assignment broadcasts the previous iteration's
    // aggregate), and every consumer — often several per query: the
    // corpus assignment, the probe search list, the PQ sub-book union —
    // re-embeds that whole tree in ITS plan, multiplying Catalyst
    // planning and codegen over a frame of k rows. The checkpoint
    // collapses the book to a k-row RDD scan; training itself runs
    // exactly once (values untouched — deterministic integer k-means).
    cents.localCheckpoint(true)
  }

  /** The (cs desc, cid asc) total-order comparator the IVF cell
    * assignment AND the PQ encode sort with — ONE definition, so the
    * k-means fixpoint, the PQ codes and both their oracles can never
    * de-sync on tie semantics. Operands are structs with `cs` (score)
    * and `cid` fields. */
  private def csDescCidAsc(l: Column, r: Column): Column =
    when(l.getField("cs") > r.getField("cs"), -1)
      .when(l.getField("cs") < r.getField("cs"), 1)
      .when(l.getField("cid") < r.getField("cid"), -1)
      .otherwise(1)

  /** Assign each corpus vector to its `nprobe` nearest codebook cells by
    * cosine (ties → lowest cid). nprobe=1 is cell assignment; nprobe>1 is
    * the probe-side multi-cell search list.
    *
    * ZERO-SHUFFLE shape: all |codebook| centroids ride in ONE broadcast
    * row as an array, so per-vector selection is a map-side expression
    * (score array → sort → slice → explode). The earlier form exchanged
    * the whole corpus through a per-vector rank window — at 100 TB that
    * shuffle (vectors × nprobe rows, embedding payload) dominated the
    * assignment; this one moves nothing. Ordering semantics are
    * identical (cos desc, ties → lowest cid), so v4/v7 oracles and the
    * k-means fixpoint are unchanged. */
  private def assignCells(corpus: DataFrame, centroids: DataFrame,
                          nprobe: Int): DataFrame = {
    val centsArr = centroids
      .select(struct(col("cid"), col("cvec"),
        sqrt(VectorFunctions.norm2(col("cvec"))).as("__nc")).as("c"))
      .agg(collect_list(col("c")).as("__cents")) // one row, broadcast
    val scored = transform(col("__cents"), c =>
      struct(cosineFromParts(
          VectorFunctions.dot(col("embedding"), c.getField("cvec")),
          col("__nv"), c.getField("__nc")).as("cs"),
        c.getField("cid").as("cid")))
    // array_sort comparator == the window's (cs desc, cid asc); cs ties
    // break by cid, equal cids impossible
    val byScore = array_sort(scored, csDescCidAsc)
    corpus
      .withColumn("__nv", sqrt(VectorFunctions.norm2(col("embedding"))))
      .crossJoin(broadcast(centsArr))
      .withColumn("__e", explode(slice(byScore, 1, nprobe)))
      // keep the corpus's OTHER columns too (label etc.): assignment is
      // the one pass that touches every vector, so downstream evaluators
      // (v11 purity) ride it instead of re-joining the corpus on vec_id
      .withColumn("cluster", col("__e.cid"))
      .drop("__cents", "__e")
  }

  /** IVF ANN with a trained codebook and multi-cell probing: every vector
    * lives in its nearest cell (the inverted file); a probe searches its
    * `nprobe` nearest cells, not the full corpus. Assignment is |codebook|
    * dots per vector map-side; the candidate join is cell-local. Raising
    * nprobe trades compute for recall — the standard IVF knob. */
  def ivfAnn(corpus: DataFrame, centroids: DataFrame, probeIds: Column,
             topK: Int, nprobe: Int = 1): DataFrame = {
    val assigned = assignCells(corpus, centroids, nprobe = 1)
    val probeCells = assignCells(corpus.filter(probeIds), centroids, nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("__nv").as("__na"), col("cluster"))
    assigned.join(broadcast(probeCells), "cluster")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_sim", cosineFromParts(
        VectorFunctions.dot(col("q_vec"), col("embedding")),
        col("__na"), col("__nv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
  }

  /** V7 — quantized IVF: the composed 100 TB ANN serving shape, both
    * levers at once. [[ivfAnn]]'s trained cells cut the CANDIDATE SET
    * (a probe scans `nprobe` cells, not the corpus); [[annQuantized]]'s
    * int8 codes cut the MEMORY the cell scan touches 4× (the per-cell
    * index holds codes + one scale + one norm per vector — no floats);
    * and the exact float rerank of the top `rerankK` per probe makes the
    * output oracle-exact — quantization error can only cost recall
    * (CI-gated), never wrong scores. The candidate shuffle stays narrow
    * (q_id, vec_id, r); raw embeddings are touched only by the rerank's
    * survivors join. */
  def ivfQuantizedAnn(corpus: DataFrame, centroids: DataFrame,
                      isProbe: Column, topK: Int, nprobe: Int,
                      rerankK: Int): DataFrame =
    ivfSearchCodes(ivfCodes(corpus, centroids),
      ivfProbes(corpus, centroids, isProbe, nprobe), corpus, isProbe,
      topK, rerankK)

  /** The inverted file's PAYLOAD: per-vector cell assignment + int8
    * codes + scale + norm — no embeddings. This is what a persistent
    * vector index materializes, partitioned by `cluster` so a probe's
    * cell list becomes a directory filter
    * ([[graft.apps.VectorIndexApp]]). */
  def ivfCodes(corpus: DataFrame, centroids: DataFrame): DataFrame =
    quantizeCodes(assignCells(corpus, centroids, nprobe = 1)
        .withColumnRenamed("__nv", "__nb")) // reuse the assignment's norm
      .select(col("vec_id"), col("cluster"), col("qv"), col("maxabs"),
        col("__nb"))

  /** The probe-side search list: one row per (probe, probed cell) with
    * the probe's own codes. Probes are few — this frame broadcasts. */
  def ivfProbes(corpus: DataFrame, centroids: DataFrame, isProbe: Column,
                nprobe: Int): DataFrame =
    quantizeCodes(assignCells(corpus.filter(isProbe), centroids, nprobe)
        .withColumnRenamed("__nv", "__nb"))
      .select(col("vec_id").as("q_id"), col("cluster"), col("qv").as("qa"))

  /** V7's search stage over a PREBUILT codes frame (freshly computed or
    * loaded from a persisted index): cell-local int64 code dot →
    * narrow (q_id, vec_id, r) rank → exact rerank against `corpus`.
    *
    * `broadcastProbes = true` (serving, the default): the probe batch
    * rides a broadcast — bounded driver/executor copies, zero shuffle
    * of the codes scan. `false` (batch ANN — joining a probe SET the
    * size of a table against the index): every probe-side frame runs
    * shuffled instead; the scoring join exchanges on `cluster` (its
    * parallelism is the cell count — size kCells for the batch, e.g.
    * √N cells, the standard IVF sizing), the rerank joins on the
    * high-cardinality q_id/vec_id. Output identical either way
    * (spec-asserted). */
  def ivfSearchCodes(codes: DataFrame, qprobes: DataFrame,
                     corpus: DataFrame, isProbe: Column, topK: Int,
                     rerankK: Int,
                     broadcastProbes: Boolean = true): DataFrame = {
    val probeSide = if (broadcastProbes) broadcast(qprobes)
      else qprobes.hint("shuffle_hash") // never a driver broadcast build
    val scored = codes.join(probeSide, "cluster")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("r", dequantizedRank)
    exactRerank(corpus, isProbe, scored, rerankK, topK, broadcastProbes)
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid, PAMI 2011) — the
    * memory lever BEYOND scalar quantization: v6's int8 keeps d bytes
    * per vector; PQ keeps m sub-CODES (here m=4 codes for a 64-dim
    * vector — 16× smaller than the floats). The vector splits into m
    * orthogonal sub-blocks; each sub-block gets its own k-word codebook
    * (the SAME deterministic integer-scaled cosine k-means the IVF
    * family trains with, run on the sliced corpus — so the oracle
    * replays training bit-for-bit); a probe precomputes an ADC lookup
    * table (k·m sub-dots per PROBE), and each candidate then costs m
    * table lookups + m-1 adds — the asymmetric-distance trick that
    * makes the scan independent of d. The approximate rank feeds the
    * shared [[exactRerank]], so PQ error can only cost recall (gated in
    * `AnnRecallSpec`), never wrong scores.
    *
    * Exactness discipline: the reconstruction norm composes exactly
    * across the orthogonal blocks (‖v̂‖² = Σ‖c_s‖², summed in fixed
    * written order), the ADC sum is a fixed-order m-term expression
    * (never a SQL SUM over per-subspace rows, whose float order is
    * engine-dependent), and codeword lookup matches on (s, cid) rather
    * than positional indexing so a codeword dropped during training
    * (possible: a cluster can lose all members) cannot shift its
    * neighbors' table slots. */
  def pqAnn(corpus: DataFrame, isProbe: Column, m: Int, subDim: Int,
            k: Int, iters: Int, topK: Int, rerankK: Int): DataFrame = {
    val cb = pqCodebook(corpus, m, subDim, k, iters)
    val encoded = pqEncode(corpus, cb, m, subDim)
    val probes = pqLuts(corpus.filter(isProbe), cb, m, subDim, k)
    // FLAT PQ: every encoded vector is ADC-scored per probe batch — the
    // pure 16×-compression story. The cell-pruned composition that cuts
    // the scan itself is [[ivfPqAnn]].
    val scored = encoded.crossJoin(broadcast(probes))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("r", pqAdcRank(m, k))
    exactRerank(corpus, isProbe, scored, rerankK, topK)
  }

  /** Shared geometry guard of the PQ family: m·subDim must cover the
    * (uniform) embedding length. One min/max agg over the corpus — a
    * single-row peek would pass a mixed-length corpus, which is exactly
    * the silent-truncation failure this guard exists to catch (slice
    * just stops short), and an empty corpus must fail with the contract
    * message, not a bare NoSuchElementException. */
  private def requirePqGeometry(corpus: DataFrame, m: Int,
                                subDim: Int,
                                allowEmpty: Boolean = false): Unit = {
    val dims = corpus.agg(min(size(col("embedding"))).as("lo"),
      max(size(col("embedding"))).as("hi")).head()
    if (allowEmpty && dims.isNullAt(0)) return // empty probe batch: legal
    require(!dims.isNullAt(0), "PQ requires a non-empty corpus")
    val (lo, hi) = (dims.getInt(0), dims.getInt(1))
    require(lo == hi, s"PQ requires uniform embedding lengths (min $lo, max $hi)")
    require(m * subDim == lo,
      s"PQ sub-blocks cover ${m * subDim} dims but vectors have $lo")
  }

  private def subCol(v: Column, s: Int, subDim: Int): Column =
    slice(v, s * subDim + 1, subDim)

  /** All m sub-block codebooks as ONE single-row broadcastable frame
    * (`__cb`: array of (s, cid, cvec, nc) structs, m·k entries). Each
    * sub-block's codebook is the SAME deterministic integer-scaled
    * cosine k-means the IVF family trains with, run on the sliced
    * corpus — so an oracle replays training bit-for-bit. */
  def pqCodebook(corpus: DataFrame, m: Int, subDim: Int, k: Int,
                 iters: Int): DataFrame = {
    require(m > 0 && subDim > 0 && k > 0 && iters > 0,
      s"PQ geometry must be positive (m=$m, subDim=$subDim, k=$k)")
    requirePqGeometry(corpus, m, subDim)
    // the m sub-books are INDEPENDENT trainings over orthogonal slices
    // — run them on concurrent driver threads so their (small) jobs
    // back-fill each other's scheduling gaps (guide §2.6). Each book
    // stays deterministic on its own, and the downstream encode/LUT
    // consumers match entries on (s, cid), never on position, so
    // completion order cannot change any result.
    // daemon threads + shutdownNow-in-finally: if one sub-book training
    // throws, Await rethrows and the remaining trainings are interrupted
    // instead of submitting Spark jobs from orphaned non-daemon threads
    // (r15 ADVICE); pool capped at the core count — more threads than
    // cores just contend in the scheduler.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, Runtime.getRuntime.availableProcessors),
      new java.util.concurrent.ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "pq-subbook"); t.setDaemon(true); t
        }
      })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val books =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence((0 until m).map { s =>
          scala.concurrent.Future {
            kmeansCodebook(
              corpus.select(col("vec_id"),
                subCol(col("embedding"), s, subDim).as("embedding")),
              k, iters)
              .select(lit(s).as("s"), col("cid"), col("cvec"),
                sqrt(VectorFunctions.norm2(col("cvec"))).as("nc"))
          }
        }), scala.concurrent.duration.Duration.Inf)
      finally { pool.shutdownNow(); () }
    // The ENTRIES are eagerly materialized (m·k rows) and the one-row
    // frame re-aggregated on top: the m-book union tree (m ×
    // k-iteration k-means plans) is what made every PQ consumer's plan
    // ~10× the query it serves — encode, LUT build and (in composed
    // pipelines) the cell scan each embedded it once more. Training
    // runs once; values untouched. The checkpoint sits BELOW the
    // collect_list so every broadcast of the codebook keeps a visible
    // cardinality reducer at its root (PlanAudit rule 4 — a bare
    // checkpointed one-row frame reads as an unbounded RDD scan).
    val entries = books.reduce(_ unionByName _).localCheckpoint(true)
    entries
      .agg(collect_list(struct(col("s"), col("cid"), col("cvec"), col("nc")))
        .as("__cb"))
  }

  /** [[pqCodebook]]'s one-row frame rebuilt from a PERSISTED entries
    * table (s, cid, cvec, nc) — the round-trip a serving index uses. */
  def pqCodebookFromEntries(entries: DataFrame): DataFrame =
    entries.agg(collect_list(
      struct(col("s"), col("cid"), col("cvec"), col("nc"))).as("__cb"))

  /** The persisted FORM of the codebook: one row per (s, cid) codeword
    * with its norm — what an index materializes on disk. */
  def pqCodebookEntries(cb: DataFrame): DataFrame =
    cb.select(explode(col("__cb")).as("e"))
      .select(col("e.s").as("s"), col("e.cid").as("cid"),
        col("e.cvec").as("cvec"), col("e.nc").as("nc"))

  /** Per-vector PQ encode: nearest codeword per sub-block by (cosine
    * desc, cid asc) — [[assignCells]]' exact semantics as a map-side
    * fold — emitting `__c0..__c{m-1}` plus `__vnorm` (the reconstruction
    * norm, composing exactly across the orthogonal blocks in fixed
    * written order). `carry` columns of `df` ride through the encode
    * (e.g. the IVF cell), so composed pipelines never re-join the
    * corpus for them. Wholly map-side over the broadcast codebook. */
  def pqEncode(df: DataFrame, cb: DataFrame, m: Int, subDim: Int,
               carry: Seq[String] = Nil): DataFrame = {
    // per-vector sub-slices and THEIR norms hoisted into one projection:
    // expressions inside a higher-order-function lambda re-evaluate per
    // element (the shinglesFromTokens lesson), so the norm must be a
    // column REFERENCE in the encode fold, not a fold of its own
    val sliced = df.crossJoin(broadcast(cb))
      .select(Seq(col("vec_id"), col("__cb")) ++ carry.map(col) ++
        (0 until m).flatMap(s => Seq(
          subCol(col("embedding"), s, subDim).as(s"__s$s"),
          sqrt(VectorFunctions.norm2(subCol(col("embedding"), s, subDim)))
            .as(s"__n$s"))): _*)
    def bestOf(s: Int): Column = {
      val entries = filter(col("__cb"), e => e.getField("s") === s)
      val scoredE = transform(entries, e =>
        struct(cosineFromParts(
            VectorFunctions.dot(col(s"__s$s"), e.getField("cvec")),
            col(s"__n$s"), e.getField("nc")).as("cs"),
          e.getField("cid").as("cid"), e.getField("nc").as("nc")))
      element_at(array_sort(scoredE, csDescCidAsc), 1)
    }
    sliced
      .select(col("vec_id") +: carry.map(col) ++:
        (0 until m).map(s => bestOf(s).as(s"__b$s")): _*)
      .select(col("vec_id") +: carry.map(col) ++:
        (0 until m).map(s => col(s"__b$s").getField("cid").as(s"__c$s")) :+
        sqrt((0 until m).map(s => col(s"__b$s").getField("nc")
            * col(s"__b$s").getField("nc")).reduceLeft(_ + _)).as("__vnorm"): _*)
  }

  /** Per-probe ADC lookup tables: `(q_id, __lut)` where the table is
    * DENSE (slot s·k + cid — k·m sub-dots per PROBE, so each candidate
    * later costs m lookups + m−1 adds, independent of d). The k-means
    * seeds are vec_id < k, so cid values always lie in [0, k) and the
    * layout is total; a codeword dropped in training leaves a null slot
    * that no candidate code can reference. Dense layout = the
    * advertised O(1) lookup per candidate (a (s, cid)-filter scan would
    * pay ~m·k struct compares on every scored row — on the HOT path ADC
    * exists to make cheap). The map is materialized in its own
    * projection so CollapseProject cannot inline the k·m dots once per
    * slot. */
  def pqLuts(probes: DataFrame, cb: DataFrame, m: Int, subDim: Int,
             k: Int): DataFrame = {
    val probeMaps = probes.crossJoin(broadcast(cb))
      .select(col("vec_id").as("q_id"),
        map_from_entries(transform(col("__cb"), e =>
          struct((e.getField("s") * k + e.getField("cid")).cast("int")
              .as("slot"),
            VectorFunctions.dot(
              slice(col("embedding"),
                (e.getField("s") * subDim + 1).cast("int"), lit(subDim)),
              e.getField("cvec")).as("v")))).as("__m"))
    // try_element_at, NOT element_at: a codeword dropped in training
    // leaves its slot key absent from the map, and ANSI-mode Spark 4
    // THROWS on a missing map key — try_ yields the null slot the dense
    // layout intends (no candidate code ever reads it)
    probeMaps.select(col("q_id"),
      transform(sequence(lit(0), lit(m * k - 1)),
        i => try_element_at(col("__m"), i)).as("__lut"))
  }

  /** The ADC candidate score: m table lookups + m−1 adds in FIXED
    * parenthesization (never a SQL SUM over per-subspace rows, whose
    * float order is engine-dependent), over `__lut` + `__c*`/`__vnorm`
    * columns. Zero-reconstruction candidates score 0. */
  private def pqAdcRank(m: Int, k: Int): Column = {
    def lutAt(s: Int): Column =
      element_at(col("__lut"), lit(s * k + 1) + col(s"__c$s").cast("int"))
    when(col("__vnorm") === 0.0, lit(0.0)).otherwise(
      (0 until m).map(lutAt).reduceLeft(_ + _) / col("__vnorm"))
  }

  /** V12 — IVFADC (Jégou et al. PAMI 2011, §IV): the quantization
    * capstone composing BOTH scale levers. The trained IVF cells cut
    * the CANDIDATE SET (a probe ADC-scans its `nprobe` cells' codes,
    * never the corpus — [[pqAnn]]'s flat scan is corpus-linear per
    * probe batch); the PQ codes cut the BYTES the cell scan touches
    * 16× (m codes + one norm per vector); the shared [[exactRerank]]
    * makes the output oracle-exact — compound quantization error can
    * only cost recall (CI-gated), never wrong scores.
    *
    * Codes are DIRECT PQ of the full vector (not residual-of-centroid:
    * residual codes buy precision when cells are many and tight; at
    * the trained-cell sizes this engine ships, the deep exact rerank
    * recovers more than residuals would, and direct codes keep encode
    * a pure per-vector function of the frozen books — the property the
    * persistent index's append-equals-rebuild contract rests on).
    *
    * Scale shape: cell assignment and encode are one map-side pass
    * over a broadcast codebook row; the scoring join exchanges on
    * `cluster` (cell-local, like v7); the rank shuffle carries the
    * narrow (q_id, vec_id, r); raw embeddings are touched only by the
    * rerank's ≤ probes × rerankK survivors. */
  def ivfPqAnn(corpus: DataFrame, centroids: DataFrame, isProbe: Column,
               m: Int, subDim: Int, k: Int, iters: Int, topK: Int,
               rerankK: Int, nprobe: Int): DataFrame = {
    // pqCodebook's own geometry guard has just validated THIS corpus,
    // so the codes/probes stages skip their re-validation (it exists
    // for the loaded-codebook path, where training never saw the
    // frame) — each guard is a full-corpus min/max action, and three
    // of them per query tripled the pre-work (measured r15)
    val cb = pqCodebook(corpus, m, subDim, k, iters)
    ivfPqSearchCodes(
      ivfPqCodes(corpus, centroids, cb, m, subDim, revalidate = false),
      ivfPqProbes(corpus, centroids, cb, isProbe, nprobe, m, subDim, k,
        revalidate = false),
      corpus, isProbe, m, k, topK, rerankK)
  }

  /** The IVFADC index PAYLOAD: per-vector cell + PQ codes + the
    * reconstruction norm — 16× smaller than v7's int8 codes. What a
    * persistent PQ index materializes, partitioned by `cluster`. */
  def ivfPqCodes(corpus: DataFrame, centroids: DataFrame, cb: DataFrame,
                 m: Int, subDim: Int,
                 revalidate: Boolean = true): DataFrame = {
    // loaded-codebook path (append encodes against FROZEN books): the
    // training-time guard never saw this frame, so re-validate here —
    // a delta whose embeddings outgrew m·subDim (upstream model change)
    // would otherwise slice-truncate silently. `revalidate = false` is
    // for same-query composition where the caller just guarded the
    // identical frame ([[ivfPqAnn]]).
    if (revalidate) requirePqGeometry(corpus, m, subDim)
    pqEncode(assignCells(corpus, centroids, nprobe = 1), cb, m, subDim,
        carry = Seq("cluster"))
      .select(col("vec_id") +: col("cluster") +:
        (0 until m).map(s => col(s"__c$s")) :+ col("__vnorm"): _*)
  }

  /** The IVFADC probe side: one row per (probe, probed cell) carrying
    * the probe's ADC lookup table. Probes are few — this broadcasts. */
  def ivfPqProbes(corpus: DataFrame, centroids: DataFrame, cb: DataFrame,
                  isProbe: Column, nprobe: Int, m: Int, subDim: Int,
                  k: Int, revalidate: Boolean = true): DataFrame = {
    // same loaded-codebook re-validation as ivfPqCodes; an EMPTY probe
    // batch is legal serving input (yields an empty result, not a throw)
    if (revalidate)
      requirePqGeometry(corpus.filter(isProbe), m, subDim, allowEmpty = true)
    val probeCells = assignCells(corpus.filter(isProbe), centroids, nprobe)
      .select(col("vec_id").as("q_id"), col("cluster"))
    probeCells.join(pqLuts(corpus.filter(isProbe), cb, m, subDim, k), "q_id")
  }

  /** V12's search stage over PREBUILT IVFADC codes (fresh or loaded
    * from a persisted index): cell-local ADC scan → narrow
    * (q_id, vec_id, r) rank → exact rerank. `broadcastProbes = false`
    * is the batch-probe plan (see [[ivfSearchCodes]]). */
  def ivfPqSearchCodes(codes: DataFrame, qprobes: DataFrame,
                       corpus: DataFrame, isProbe: Column, m: Int, k: Int,
                       topK: Int, rerankK: Int,
                       broadcastProbes: Boolean = true): DataFrame = {
    val probeSide = if (broadcastProbes) broadcast(qprobes)
      else qprobes.hint("shuffle_hash") // never a driver broadcast build
    val scored = codes.join(probeSide, "cluster")
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("r", pqAdcRank(m, k))
    exactRerank(corpus, isProbe, scored, rerankK, topK, broadcastProbes)
  }

  /** N-gram-Jaccard near-dup: bottom-hash blocking over LONG (`blockN`)
    * shingles, exact Jaccard verification over SHORT (`shingleN`)
    * shingles. Blocking = two single-row MinHash bands (collision
    * probability per band = long-shingle Jaccard), so near-identical
    * documents collide with probability 1-(1-j)² ≈ 1 while unrelated
    * documents — whose long n-grams almost never coincide even under a
    * tiny token vocabulary — stay in singleton buckets. The long/short
    * split matters: blocking on short n-grams degenerates when the
    * vocabulary is small (every document shares common bigrams), a
    * scale-killer this operator deliberately avoids. */
  def ngramJaccardNearDup(docs: DataFrame, id: Column, text: Column,
                          blockN: Int, shingleN: Int,
                          threshold: Double): DataFrame = {
    val (pairs, sets) = ngramBlock(docs, id, text, blockN, shingleN)
    jaccardVerify(pairs, sets, threshold)
  }

  /** Shared block stage of the n-gram near-dup family (d5 Jaccard, d12
    * containment): tokenize ONCE (tokenization is the dominant map-side
    * cost at corpus scale — both shingle lengths derive from the same
    * persisted token frame), minhash-block on the LONG `blockN`-gram
    * shingles, and return the candidate pairs alongside the SHORT
    * `shingleN`-gram verification sets. */
  private def ngramBlock(docs: DataFrame, id: Column, text: Column,
                         blockN: Int, shingleN: Int)
      : (DataFrame, DataFrame) = {
    val toks = docs.select(id.as("__id"),
        TextFunctions.tokens(TextFunctions.normalized(text)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def sets(n: Int): DataFrame = toks.select(col("__id"),
      TextFunctions.shinglesFromTokens(col("__toks"), n).as("__sh"))
    // band keys are the raw single-value MinHash longs (bandSize = 1 —
    // nothing to pack, nothing to md5). The verify sets stay STRING
    // shingles, unlike the d3 pipeline: there the signature path hashes
    // every shingle anyway so the long arrays are free, here the
    // signature sees only the LONG blockN-grams and hashing the short
    // verify grams would be a brand-new md5 pass over the whole corpus
    // (measured +0.5 s at sf0.1) to narrow a join the pairs side of
    // which broadcasts regardless.
    val sig = minhashSignature(sets(blockN), k = 2)
    val bands = minhashBandsPacked(sig, k = 2, bandSize = 1)
    (pairsWithinBuckets(bands, packedSigKeys(1)), sets(shingleN))
  }

  /** Containment near-dup (Broder's containment coefficient
    * |A∩B| / |A|): the ASYMMETRIC twin of Jaccard — a short document
    * quoted whole inside a long one scores containment ≈ 1 while its
    * Jaccard stays low, so the d5 metric never surfaces the pair.
    * Same block stage as d5 ([[ngramBlock]]); the verify emits BOTH
    * directions as exact ppm integers (`inter·10^6 div |side|` — no
    * float crosses engines) and keeps pairs where either direction
    * clears `thresholdPpm`. */
  def ngramContainment(docs: DataFrame, id: Column, text: Column,
                       blockN: Int, shingleN: Int,
                       thresholdPpm: Long): DataFrame = {
    val (pairs, sets) = ngramBlock(docs, id, text, blockN, shingleN)
    val sa = array_distinct(col("__sha"))
    val sb = array_distinct(col("__shb"))
    pairs
      .join(sets.select(col("__id").as("a"), col("__sh").as("__sha")), "a")
      .join(sets.select(col("__id").as("b"), col("__sh").as("__shb")), "b")
      .withColumn("__i", size(array_intersect(sa, sb)).cast("long"))
      .withColumn("__na", size(sa).cast("long"))
      .withColumn("__nb", size(sb).cast("long"))
      .withColumn("contain_a_ppm", expr("(__i * 1000000) div __na"))
      .withColumn("contain_b_ppm", expr("(__i * 1000000) div __nb"))
      .filter(greatest(col("contain_a_ppm"), col("contain_b_ppm"))
        >= thresholdPpm)
      .select(col("a"), col("b"), col("contain_a_ppm"), col("contain_b_ppm"))
  }

  /** Embedding near-dup: pairs (a < b) in the same LSH bucket with cosine
    * >= threshold. Same block→verify shape as MinHash. */
  def embeddingNearDup(corpus: DataFrame, planes: Seq[Seq[Double]],
                       threshold: Double): DataFrame = {
    val b = corpus
      .withColumn("bucket", VectorFunctions.signBits(col("embedding"), planes))
      .withColumn("__n", sqrt(VectorFunctions.norm2(col("embedding"))))
    val l = b.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("va"), col("__n").as("__na"))
    val r = b.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("vb"), col("__n").as("__nb"))
    l.join(r, "bucket").filter(col("a") < col("b"))
      .withColumn("cos_sim", cosineFromParts(
        VectorFunctions.dot(col("va"), col("vb")),
        col("__na"), col("__nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("a"), col("b"), col("cos_sim")).distinct()
  }

  /** Corpus cluster assignment over a trained codebook — the profiling /
    * mixture-curation face of the IVF machinery: every vector mapped to
    * its nearest centroid (same deterministic argmax as the IVF cell
    * assignment, so profiles agree with the index layout byte-for-byte).
    * Zero shuffle: the codebook rides a single-row broadcast and the
    * argmax is a map-side array fold; downstream aggregation is the
    * caller's (typically groupBy(cluster) — map-side partial, k rows
    * out). */
  def clusterAssign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(corpus, centroids, nprobe = 1)
      .select(col("vec_id"), col("cluster"))

  /** [[clusterAssign]] carrying extra corpus columns through the one
    * full-corpus pass — evaluators (v11 label purity) read their
    * payload here instead of re-joining the corpus on vec_id (a second
    * corpus-wide shuffle the assignment already paid for). */
  def clusterAssignWith(corpus: DataFrame, centroids: DataFrame,
                        extra: String*): DataFrame =
    assignCells(corpus, centroids, nprobe = 1)
      .select((Seq("vec_id", "cluster") ++ extra).map(col): _*)

  /** Semantic dedup (SemDeDup, Abbas et al., "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): prune near-duplicate MEANING, not near-duplicate
    * bytes — embeddings are clustered over a trained codebook and
    * pairwise cosine runs ONLY within a cluster; a vector is a semantic
    * duplicate iff a SMALLER-id vector in its cluster matches at
    * ≥ `threshold` (the deterministic keep-lowest-representative rule —
    * pairwise greedy, matching the paper's ε-dedup, not a transitive
    * closure; chains longer than a pair are [[graft.queries.SimilarityQueries]]
    * d6's clustering domain).
    *
    * Scale shape: the quadratic term is CONFINED to a cluster — with
    * k ≈ √N centroids (the paper runs 50k on LAION-scale data) the
    * expected within-cluster pair total is N²/k, and k is the knob that
    * keeps it linear-ish; a skew-flooded cluster shows up as one
    * oversized join partition, the same observable the d3 bucket cap
    * guards, and is fixed by raising k. Cell assignment is zero-shuffle
    * (single-row codebook broadcast, map-side argmax — [[clusterAssign]]);
    * the within-cluster self-join exchanges on the cluster id (never a
    * broadcast: clusters are corpus-sized in aggregate) and carries only
    * (cluster, vec_id, embedding, norm); the dup-id set folds back with
    * one narrow join on vec_id. Returns `(vec_id, cluster, is_dup)` for
    * every corpus vector — callers keep `is_dup = 0`. */
  def semanticDedup(corpus: DataFrame, centroids: DataFrame,
                    threshold: Double): DataFrame = {
    // narrow BEFORE the persist: assignCells passes the corpus's other
    // columns through (for the v11 evaluator path), and a cached frame
    // materializes its full column set — pruning does not reach inside
    val assigned = assignCells(corpus, centroids, nprobe = 1)
      .select(col("vec_id"), col("embedding"), col("__nv"), col("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = assigned.select(col("cluster"), col("vec_id").as("a"),
      col("embedding").as("va"), col("__nv").as("__na"))
    val r = assigned.select(col("cluster"), col("vec_id").as("b"),
      col("embedding").as("vb"), col("__nv").as("__nb"))
    val dupIds = l.join(r, Seq("cluster")).filter(col("a") < col("b"))
      .filter(cosineFromParts(VectorFunctions.dot(col("va"), col("vb")),
        col("__na"), col("__nb")) >= threshold)
      .select(col("b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cluster"))
      .join(dupIds.withColumn("__d", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("__d"), lit(0)).cast("int").as("is_dup"))
  }

  /** Substring-level exact dedup (span dedup, per Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): every `w`-token sliding window ("span") is
    * hashed, a span occurring in ≥ 2 DISTINCT documents is duplicated,
    * and each document reports its duplicated-span load —
    * `(id, total_spans, dup_spans, dup_distinct)`. This is the
    * document-level d1–d7 family's missing granularity: boilerplate
    * (headers, license blocks, templated paragraphs) repeats across
    * otherwise-unique documents and only a span-level measure sees it.
    *
    * Scale shape: the span frame never materializes strings past the
    * map side — spans are hashed to a long immediately, and the ONLY
    * full-stream aggregation collapses them to unique
    * `(hash, doc, occurrences)` rows (map-side partial, so within-doc
    * repeats combine before the exchange). Everything downstream runs
    * on that compact frame: per-row uniqueness makes plain counts
    * distinct counts, so no countDistinct expand appears anywhere in
    * the plan. The duplicated-hash join is an equi-join on the long key
    * (no broadcast assumption — the duplicated-span set is corpus-sized
    * in the worst case). Nothing is quadratic: a span shared by k
    * documents costs k rows, not k² pairs. The hash is [[StableHash.stableMod]] (31-bit,
    * DuckDB-reproducible for the oracle); a 100 TB corpus has ~2^40+
    * distinct spans, where the same pipeline runs on
    * [[StableHash.stable60]] (collisions only overcount duplication,
    * and only at the 2^-60 birthday rate). */
  def spanDedupStats(docs: DataFrame, id: Column, text: Column,
                     w: Int): DataFrame = {
    require(w >= 2, s"span window must be >= 2 tokens, got $w")
    val spans = docs.select(id.as("__id"),
        explode(TextFunctions.shinglesFromTokens(
          TextFunctions.tokens(TextFunctions.normalized(text)), w)).as("__span"))
      .select(col("__id"), StableHash.stableMod(col("__span")).as("__h"))
    // ONE aggregation of the full span stream — everything downstream
    // derives from this compact (hash, doc, occurrences) frame: its row
    // count is bounded by distinct (span, doc) pairs, within-doc
    // repeats already collapsed, and per-(h, id) rows are UNIQUE so
    // plain counts over it ARE distinct counts (no countDistinct
    // expand anywhere in the plan).
    val perHash = spans.groupBy("__h", "__id").agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // duplicated = present in >= 2 distinct docs (within-doc repetition
    // is t5_repetition's domain and deliberately NOT counted here)
    val dup = perHash.groupBy("__h")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2).select("__h").withColumn("__d", lit(1))
    // ONE pass over the compact frame computes totals AND the
    // duplicated-span load together: the dup-hash set attaches as a
    // LEFT join flag, so rows of unduplicated spans still feed
    // total_spans while the conditional sums see only flagged rows —
    // the earlier totals/dups split aggregated perHash twice and
    // joined the document spine twice (two extra corpus-keyed passes
    // at scale, for identical output).
    val stats = perHash.join(dup, Seq("__h"), "left")
      .groupBy("__id")
      .agg(sum(col("__c")).as("total_spans"),
        sum(when(col("__d") === 1, col("__c")).otherwise(lit(0L)))
          .as("dup_spans"),
        count(col("__d")).as("dup_distinct"))
    // left join restores docs shorter than w tokens (zero spans)
    docs.select(id.as("__id"))
      .join(stats, Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("total_spans"), lit(0L)).as("total_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_distinct"), lit(0L)).as("dup_distinct"))
  }

  /** Lexical retrieval arm: token-SET Jaccard of every corpus document
    * against each probe, top-k per probe — the BM25-free exact-overlap
    * baseline of a hybrid retrieval stack (the dense arm is
    * [[annBruteForce]]). `docs` must carry `(doc_id, text)`.
    *
    * Same shape as [[annBruteForce]]: the probe set (tiny by contract)
    * broadcasts, so the scan is one map-side pass over the corpus —
    * |probes| set-intersections per document, no corpus-side shuffle
    * before the per-probe rank. At 100 TB the row_number rank swaps for
    * the bounded [[graft.functions.TopK]] aggregator exactly as v5 does
    * for v1 (map-side partial top-k instead of shuffling the scored
    * frame); the window form is kept here for oracle-exactness parity
    * with the ANN family. */
  def lexicalJaccardTopK(docs: DataFrame, isProbe: Column, topK: Int): DataFrame = {
    val sets = docs.select(col("doc_id"),
      array_distinct(TextFunctions.tokens(TextFunctions.normalized(col("text"))))
        .as("tset"))
    val probes = sets.filter(isProbe)
      .select(col("doc_id").as("q_id"), col("tset").as("q_set"))
    // |A∩B| once per pair; |A∪B| = |A|+|B|−|A∩B| avoids a second
    // array walk (array_union would rescan both sets)
    val scored = sets.crossJoin(broadcast(probes))
      .filter(col("q_id") =!= col("doc_id"))
      .withColumn("__i", size(array_intersect(col("q_set"), col("tset"))).cast("long"))
      .withColumn("__u",
        size(col("q_set")).cast("long") + size(col("tset")).cast("long") - col("__i"))
      .withColumn("jaccard", when(col("__u") === 0, lit(0.0))
        .otherwise(col("__i").cast("double") / col("__u")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("jaccard").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("doc_id"), col("rank"), col("jaccard"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two ranked
    * retrieval arms: score(q, d) = Σ_arms 1/(k0 + rank_arm(q, d)), with
    * an arm that did not return the candidate contributing 0. Both arms
    * must carry `(q_id, id, rank)`.
    *
    * A full-outer join keeps candidates surfaced by EITHER arm, and the
    * fused score is one fixed-order expression (lexical term + dense
    * term) so the float sum is deterministic — an N-arm groupBy-sum
    * would add doubles in partition order and desync from the oracle.
    * The fused frame is ≤ 2·armK rows per probe, so the final rank
    * window is per-probe-constant work regardless of corpus size. */
  def rrfFuse(armA: DataFrame, armB: DataFrame, k0: Int, topK: Int): DataFrame = {
    val a = armA.select(col("q_id"), col("id"), col("rank").as("__ra"))
    val b = armB.select(col("q_id"), col("id"), col("rank").as("__rb"))
    a.join(b, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(k0) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("__rb")), lit(0.0)))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("rrf_score").desc, col("id"))))
      .filter(col("rnk") <= topK)
      .select(col("q_id"), col("id"), col("rnk"), col("rrf_score"))
  }
}
