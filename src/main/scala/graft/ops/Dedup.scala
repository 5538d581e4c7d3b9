package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification. Declarative
  * Spark throughout: the MinHash signature is a single codegen'd
  * projection (no UDAF), LSH banding is an explode + shuffle on band
  * hashes, and candidate verification is an equi-join — the shape that
  * scales to 10^12 rows because nothing ever materializes O(n^2).
  */
object Dedup {

  /** Scan-parallelism repair (guide §2.5 "input skew"): a small or
    * unsplittable input arrives in fewer partitions than there are
    * cores, so the expensive per-row work downstream (md5-per-shingle
    * signatures, per-token hash votes) serializes onto a handful of
    * tasks. Round-robin repartition to the default parallelism ONLY in
    * that under-partitioned case — a 100-TB table already arrives in
    * thousands of scan splits and must not be re-shuffled.
    */
  private def spreadScan(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, parallelism / 2))
      df.repartition(parallelism)
    else df
  }

  /** Exact dedup: group identical normalized content, keep the smallest id
    * as canonical. Output: (id, canonical_id, group_size).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // groupBy + join instead of count/min over Window.partitionBy("fp"):
    // the window would funnel every row of a hot fingerprint (e.g. the
    // empty document) through one task; the aggregate gets map-side
    // partial aggregation and the join is AQE-skew-splittable.
    // The join is null-safe (<=>): null text fingerprints to null, and a
    // plain equi-join would silently drop those rows — null-content docs
    // must still dedupe against each other (EqualNullSafe is a supported
    // equi-join key, so this stays a hash join, not a cartesian).
    val keyed = df.select(col(idCol).as("id"),
      TextAnalysis.fingerprintCol(col(textCol)).as("fp"))
    val groups = keyed.groupBy("fp")
      .agg(min("id").as("canonical_id"), count(lit(1)).as("group_size"))
      .withColumnRenamed("fp", "group_fp")
    keyed.join(groups, col("fp") <=> col("group_fp"))
      .select("id", "canonical_id", "group_size")
  }

  /** MinHash signature — the single-pass SQL function
    * `graft_minhash_signature` (see graft.functions.MinHashFunctions): the
    * declarative transform/array_min formulation re-runs the tokenizer
    * inside interpreted lambdas, O(numHashes x shingles) regex runs per row.
    */
  def minhashSignature(text: Column, numHashes: Int = 64, k: Int = 3): Column =
    graft.functions.MinHash.signature(text, numHashes, k)

  /** MinHash + LSH banding: emits candidate near-dup pairs (id_a < id_b)
    * that share at least one band bucket, with their estimated Jaccard
    * (signature agreement rate). Join is per-bucket sorted-neighborhood
    * free: buckets are small by construction (bands of wide hashes).
    *
    * @param bands  number of LSH bands; rows per band = numHashes / bands.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "bands must divide numHashes")
    graft.functions.GraftFunctions.register(df.sparkSession)

    // Materialize the signatures ONCE: the bucket-size pass and the join
    // pass below are two plan branches over `banded`, and only the sizing
    // branch ends in an exchange — without this, the (md5-per-shingle)
    // signature expression is evaluated twice per document. One signature
    // row is (id, numHashes longs), far narrower than the banded rows the
    // downstream join shuffles anyway, so holding it (memory, spilling to
    // disk) is strictly cheaper than a second full tokenize+hash pass —
    // the guide §5 "reused AND recompute is more expensive" case.
    val sigs = spreadScan(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        minhashSignature(col(textCol), numHashes).as("sig"))
      .localCheckpoint()

    val banded = sigs.select(
      col("id"), col("sig"),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_",
            slice(col("sig"), b * rows + 1, lit(rows))), b.cast("string")))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

    // oversized-bucket cap via groupBy + broadcast anti-join (a window
    // over (band, bucket) would single-task each hot bucket to count it)
    val oversized = banded
      .groupBy("band", "bucket").agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucketSize)
      .select("band", "bucket")
    val capped = banded.join(broadcast(oversized),
      Seq("band", "bucket"), "left_anti")

    val left = capped.select(col("band"), col("bucket"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val right = capped.select(col("band"), col("bucket"),
      col("id").as("id_b"), col("sig").as("sig_b"))

    left
      .join(right, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(
          size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), b => b))
            .cast("double") / size(col("sig_a")), 6)
          .as("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Character n-grams of a string column as a distinct array. */
  def charNgrams(c: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
        i => c.substr(i, lit(n))))

  /** Character n-gram Jaccard similarity between two text columns —
    * the exact verifier behind MinHash estimates.
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val ga = charNgrams(a, n)
    val gb = charNgrams(b, n)
    val inter = size(array_intersect(ga, gb)).cast("double")
    val uni = size(array_union(ga, gb)).cast("double")
    round(when(uni === 0, 0.0).otherwise(inter / uni), 6)
  }

  /** SimHash bit width: 60 bits — the token hash is the first 15 hex
    * chars of md5(token), a PORTABLE spec any engine with md5 can
    * recompute (the driver's DuckDB oracle does).
    */
  val SimhashBits = 60

  /** SimHash of a text column: per-bit majority vote over md5-derived
    * token hashes, assembled declaratively (60 conditional sums — one
    * codegen'd aggregate, no UDAF). Tokens are the shared portable Unicode
    * spec ([[graft.functions.Tokens]], same tokenizer as MinHash); token
    * hash = first 60 bits of md5 (same spec as
    * [[graft.functions.MinHashFunctions]]).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // no spreadScan here: the per-row work (tokenize + md5 per token) is
    // an order of magnitude lighter than a MinHash signature, and the
    // repartition's shuffle + task wave measurably costs more than the
    // parallelism buys at under-partitioned fixture sizes
    graft.functions.GraftFunctions.register(df.sparkSession)
    val tokens = df.select(
      col(idCol).as("id"),
      explode(call_function("graft_tokens", col(textCol))).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))

    val bitVotes = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"bit_$b")
    }
    val voted = tokens.groupBy("id").agg(bitVotes.head, bitVotes.tail: _*)
    val assembled = (0 until SimhashBits)
      .map(b =>
        when(col(s"bit_$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    voted.select(col("id"), assembled.as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Embedding-cosine near-duplicate pairs: banded random-hyperplane LSH
    * (like the MinHash path) — `bands` independent signatures of `nPlanes`
    * sign bits each, candidates = pairs sharing at least one (band,
    * signature) bucket, verified with exact cosine. Banding decouples
    * recall (more bands) from bucket size (more planes): effective bucket
    * count is bands x 2^nPlanes, and a pair's miss probability is
    * (1 - p^nPlanes)^bands for per-plane agreement p. Bucket sizes are
    * capped via groupBy + broadcast anti-join (no per-key window), so a
    * hot bucket dies before the self-join.
    */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nPlanes: Int = 8,
      bands: Int = 8,
      minCosine: Double = 0.9,
      maxBucketSize: Int = 1000): DataFrame = {
    // single-pass fused signature expression: the declarative per-band
    // formulation compiles bands x nPlanes x dim expression nodes and
    // re-reads the vector once per band; graft_lsh_signatures reads it
    // once and emits the same bit-identical signatures
    graft.functions.GraftFunctions.register(df.sparkSession)
    val vec = col(vecCol)
    val banded = df.select(
      col(idCol).as("id"), vec.as("vec"),
      posexplode(call_function("graft_lsh_signatures", vec,
        lit(dim), lit(nPlanes), lit(bands), lit(0))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "sig")
    val oversized = banded
      .groupBy("band", "sig").agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucketSize)
      .select("band", "sig")
    val capped = banded.join(broadcast(oversized),
      Seq("band", "sig"), "left_anti")
    val a = capped.select(col("band"), col("sig"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val b = capped.select(col("band"), col("sig"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    a.join(b, Seq("band", "sig"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(SimilaritySearch.cosine(col("vec_a"), col("vec_b")), 6))
      .where(col("cos_sim") >= minCosine)
      .select("id_a", "id_b", "cos_sim")
      .dropDuplicates("id_a", "id_b")
  }

  /** Near-dup CLUSTERING with representative selection — the fuzzy-dedup
    * shape a training-data pipeline actually runs at corpus scale:
    * [[minhashCandidates]] pairs at `est_jaccard >= threshold` become
    * edges, connected components (the linkage pipeline's frontier
    * min-label + pointer-jumping loop, O(log diameter) shuffle rounds)
    * resolve the transitive groups, and ONE representative per group is
    * kept — the longest text, ties broken by lowest id. Output: (id,
    * cluster_id, keep) for EVERY input row; cluster_id is the smallest id
    * in the group (a singleton labels itself, keep = true), so a consumer
    * deduplicates with `where(keep)` and audits with a cluster_id join.
    *
    * Scale shape: edges come from the banded bucket equi-join (never
    * O(n^2)); the closure reuses [[graft.pipeline.ConnectedComponents]];
    * representative selection is two map-side-combinable aggregations
    * (max length per cluster, then min id among the longest) joined back
    * on cluster_id — no per-key window, so a degenerate giant cluster
    * cannot funnel through one task.
    */
  def nearDupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val edges = minhashCandidates(df, idCol, textCol, numHashes, bands)
      .where(col("est_jaccard") >= threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val vertices = df.select(col(idCol).as("file_id"))
    val labels =
      graft.pipeline.ConnectedComponents.run(df.sparkSession, vertices, edges)
    // -1 stands in for a null text so null-content docs still rank (and a
    // null-text singleton is still its own representative)
    val withLen = labels.join(
      df.select(col(idCol).as("file_id"),
        coalesce(length(col(textCol)), lit(-1)).as("tlen")),
      Seq("file_id"))
    // keeper rule (longest text, ties to lowest id) as ONE map-side-
    // combinable aggregation: structs compare field-by-field, so
    // min(struct(-tlen, file_id)) is exactly (max tlen, then min id) —
    // the previous max-len pass + filter + min-id pass + extra join
    // computed the same representative in two shuffles instead of one
    val rep = withLen.groupBy("cluster_id")
      .agg(min(struct((lit(0) - col("tlen")).as("neg_len"),
        col("file_id").as("rid"))).as("best"))
      .select(col("cluster_id"), col("best.rid").as("rep_id"))
    withLen.join(rep, Seq("cluster_id"))
      .select(col("file_id").as("id"), col("cluster_id"),
        (col("file_id") === col("rep_id")).as("keep"))
  }
}
