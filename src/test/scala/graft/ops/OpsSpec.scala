package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkSessionTestWrapper

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("exact dedup groups formatting variants") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello world  foo"),
      (2L, "hello   world foo"),
      (3L, "  Hello World foo "),
      (4L, "something else entirely")).toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 3L))
    assert(out(2L) == (1L, 3L))
    assert(out(3L) == (1L, 3L))
    assert(out(4L) == (4L, 1L))
  }

  test("exact dedup keeps null-text rows and groups them together") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("real content here")),
      (2L, Option.empty[String]),
      (3L, Option.empty[String]),
      (4L, Option("real content here"))).toDF("id", "text")
    val out = Dedup.exact(df, "id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 4, "null-text rows must not vanish from the output")
    assert(out(2L) == (2L, 2L))
    assert(out(3L) == (2L, 2L))
    assert(out(1L) == (1L, 2L))
  }

  test("driver-oracle assumption: no sf0.01 minhash/embedding bucket " +
    "exceeds the cap") {
    // the DuckDB oracles of q_minhash_dedup / q_embedding_dedup enumerate
    // all band-equal pairs WITHOUT modelling maxBucketSize (default 1000);
    // they only agree with the Spark queries while no bucket on the driver
    // dataset is oversized — pinned here so a testdata change that breaks
    // the assumption fails CI instead of producing a spurious driver
    // mismatch.
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val rows = 32 / 8
    val maxMinhashBucket = docs
      .select(Dedup.minhashSignature(col("text"), 32).as("sig"))
      .select(posexplode(transform(sequence(lit(0), lit(7)),
        b => xxhash64(concat_ws("_",
          slice(col("sig"), b * rows + 1, lit(rows))), b.cast("string")))))
      .groupBy("pos", "col").count()
      .agg(max("count")).head().getLong(0)
    assert(maxMinhashBucket <= 1000, s"minhash bucket $maxMinhashBucket")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val maxEmbBucket = emb
      .select(posexplode(call_function("graft_lsh_signatures",
        col("embedding"), lit(64), lit(6), lit(8), lit(0))))
      .groupBy("pos", "col").count()
      .agg(max("count")).head().getLong(0)
    assert(maxEmbBucket <= 1000, s"embedding bucket $maxEmbBucket")
  }

  test("minhash finds near-duplicates, skips unrelated") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest while nobody watches it"
    val near = base.replace("quick", "fast")
    val other = "completely different content about database systems and " +
      "distributed query engines processing large volumes of data daily"
    val df = Seq((1L, base), (2L, near), (3L, other), (4L, base))
      .toDF("doc_id", "text")
    val cands = Dedup
      .minhashCandidates(df, "doc_id", "text", numHashes = 64, bands = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(cands.contains((1L, 4L)) && cands((1L, 4L)) == 1.0)
    assert(cands.contains((1L, 2L)) && cands((1L, 2L)) > 0.5)
    assert(!cands.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash/simhash on CJK: distinct docs don't collide, near-dups do") {
    import spark.implicits._
    // round-2's ASCII-only tokenizer gave EVERY non-Latin document the
    // same signature (zero words -> the single empty shingle) — a
    // mass-false-near-dup data-loss hazard. The Unicode token spec must
    // keep distinct CJK documents apart while still linking near-identical
    // ones.
    val ja1 = "春の夜の夢はうつつよりもかなしき物語を静かに読み返す"
    val ja2 = ja1.replace("静かに", "丁寧に") // near-dup: small edit
    val ja3 = "量子計算機は素因数分解を高速に実行できる可能性がある"
    val ru1 = "в лесу родилась ёлочка в лесу она росла зимой и летом стройная зелёная была"
    val ru2 = ru1.replace("стройная", "красивая")
    val df = Seq((1L, ja1), (2L, ja2), (3L, ja3), (4L, ru1), (5L, ru2))
      .toDF("doc_id", "text")
    val cands = Dedup
      .minhashCandidates(df, "doc_id", "text", numHashes = 64, bands = 32)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cands.contains((1L, 2L)) && cands((1L, 2L)) > 0.5,
      s"near-identical Japanese docs must link: $cands")
    assert(cands.contains((4L, 5L)) && cands((4L, 5L)) > 0.5,
      s"near-identical Russian docs must link: $cands")
    assert(!cands.contains((1L, 3L)) || cands((1L, 3L)) < 0.3,
      s"distinct Japanese docs must not collide: $cands")
    assert(!cands.keys.exists { case (a, b) =>
      Set(a, b).intersect(Set(1L, 2L, 3L)).nonEmpty &&
        Set(a, b).intersect(Set(4L, 5L)).nonEmpty
    }, s"cross-script collision: $cands")

    val sh = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh.size == 5, "every CJK doc must get a simhash")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sh(1L) != sh(3L), "distinct Japanese docs collapsed to one simhash")
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("nearDupClusters: transitive closure of the pair op + " +
    "longest/min-id representative, every row labeled once") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far " +
      "away into the deep green forest while nobody watches it"
    val texts = Map(
      1L -> base,
      2L -> base.replace("quick", "fast"),
      3L -> ("completely different content about database systems and " +
        "distributed query engines processing large volumes of data daily"),
      4L -> base,
      5L -> (base + " with a few extra trailing words appended"),
      6L -> "short unrelated note")
    val df = texts.toSeq.sortBy(_._1).toDF("doc_id", "text")
    // independent scalar union-find over the SAME pairs the pair op
    // emits — pins clusters = transitive closure regardless of which
    // borderline pairs band-collide at these parameters
    val pairs = Dedup
      .minhashCandidates(df, "doc_id", "text", numHashes = 32, bands = 8)
      .where(col("est_jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map((1L to 6L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (1L to 6L).map(i => i -> find(i)).toMap

    val out = Dedup.nearDupClusters(df, "doc_id", "text",
      numHashes = 32, bands = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.map(_._1).sorted.toSeq == (1L to 6L),
      s"every input row labeled exactly once: ${out.toSeq}")
    out.foreach { case (id, cid, _) =>
      assert(cid == expected(id), s"doc $id: cluster $cid != ${expected(id)}")
    }
    out.groupBy(_._2).foreach { case (cid, rows) =>
      val keepers = rows.filter(_._3).map(_._1)
      assert(keepers.length == 1, s"cluster $cid keepers: ${keepers.toSeq}")
      val members = rows.map(_._1)
      val maxLen = members.map(texts(_).length).max
      assert(keepers.head ==
        members.filter(texts(_).length == maxLen).min,
        s"cluster $cid representative")
    }
    // the fixture must actually exercise a multi-doc cluster (1 and 4 are
    // identical, est 1.0 — they always co-bucket)
    assert(out.count(_._2 == 1L) >= 2, s"no multi-doc cluster: ${out.toSeq}")
  }

  test("embedding near-dups: identical and noisy copies found, opposite not") {
    import spark.implicits._
    val dim = 16
    val base = (0 until dim).map(i => math.sin(i * 1.7).toFloat).toArray
    val noisy = base.zipWithIndex
      .map { case (x, i) => x + (if (i % 5 == 0) 0.01f else -0.01f) }
    val opposite = base.map(-_)
    val df = Seq(
      (1L, base.toSeq), (2L, noisy.toSeq), (3L, opposite.toSeq),
      (4L, base.toSeq)).toDF("vec_id", "embedding")
    val pairs = Dedup
      .embeddingNearDups(df, "vec_id", "embedding", dim,
        nPlanes = 4, minCosine = 0.95)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0)
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.95)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("banded embedding LSH recall vs brute-force ground truth") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    val dim = 32
    // 20 base vectors, each with a noisy near-copy (cos > 0.99), plus
    // 40 unrelated vectors
    val rows = (0 until 20).flatMap { c =>
      val base = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val noisy = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
      Seq((c * 2L, base.toSeq), (c * 2L + 1, noisy.toSeq))
    } ++ (100L until 140L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq))
    val df = rows.toDF("vec_id", "embedding")

    // ground truth: exact all-pairs cosine >= 0.98
    val a = df.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = df.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val truth = a.crossJoin(b)
      .where($"id_a" < $"id_b")
      .where(SimilaritySearch.cosine($"va", $"vb") >= 0.98)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 20)

    val found = Dedup.embeddingNearDups(df, "vec_id", "embedding", dim,
      nPlanes = 6, bands = 8, minCosine = 0.98)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false positives (exact verify) ...
    assert(found.subsetOf(truth))
    // ... and banded LSH recall is high at near-dup similarity
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${found.size}/${truth.size})")
  }

  test("simhash hamming distance small for near-dups") {
    import spark.implicits._
    val base = "spark is a unified analytics engine for large scale data"
    val near = "spark is a unified analytics engine for large scale work"
    val far = "cats meow dogs bark birds sing fish swim worms dig"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val sh = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
    assert(ham(sh(1L), sh(2L)) <= 16)
  }

  test("ngram jaccard") {
    import spark.implicits._
    val df = Seq(("abcdef", "abcdef"), ("abcdef", "uvwxyz")).toDF("a", "b")
    val r = df.select(Dedup.ngramJaccard(col("a"), col("b")).as("j"))
      .collect().map(_.getDouble(0))
    assert(r(0) == 1.0)
    assert(r(1) == 0.0)
  }
}

class SimilaritySearchSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("brute-force top-k finds the planted neighbor") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val base = Array.fill(dim)(rnd.nextFloat())
    val nearly = base.clone(); nearly(0) += 0.01f
    val vecs = (0L until 50L).map { i =>
      if (i == 1L) (i, nearly)
      else if (i == 0L) (i, base)
      else (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val top = SimilaritySearch
      .bruteForceTopK(vecs, vecs.where($"vec_id" === 0), "vec_id",
        "embedding", k = 3)
      .orderBy("rank").collect()
    assert(top.head.getLong(1) == 1L, "planted neighbor must rank first")
    assert(top.head.getDouble(2) > 0.999)
  }

  test("fused lsh signatures equal the declarative formulation bit-for-bit") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(3)
    val dim = 32
    val df = (0L until 200L)
      .map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1).toSeq))
      .toDF("vec_id", "embedding")
    val bands = 4
    val cmp = df.select(
      (0 until bands).map { b =>
        (element_at(call_function("graft_lsh_signatures", $"embedding",
          lit(dim), lit(6), lit(bands), lit(0)), b + 1) ===
          SimilaritySearch.lshSignature($"embedding", dim, 6, seed = b))
          .as(s"eq_$b")
      }: _*)
    val rows = cmp.collect()
    assert(rows.forall(r => (0 until bands).forall(r.getBoolean)), "mismatch")
  }

  test("fused lsh signatures reject a vector whose length != dim") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq((1L, Seq.fill(16)(0.5f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      df.select(call_function("graft_lsh_signatures", $"embedding",
        lit(32), lit(4), lit(2), lit(0))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("expected dim=32")), ex.toString)
  }

  test("multi-probe lsh: more candidates, recall never below exact-bucket") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val dim = 16
    // 10 planted near-copies (query i's neighbor is i+100) in noise
    val vecs = (0L until 100L).map { i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    }
    // moderate similarity (cos ~0.85-0.95): close enough to be the true
    // rank-1 neighbor, far enough that the exact bucket misses some
    val planted = vecs.take(10).map { case (i, v) =>
      val c = v.map(x => x + 0.35f * (rnd.nextFloat() * 2 - 1))
      (i + 100L, c)
    }
    val df = (vecs ++ planted).toDF("vec_id", "embedding")
    val q = df.where($"vec_id" < 10)
    def recallOf(probes: Int): Double = {
      val got = SimilaritySearch.lshTopK(df, q, "vec_id", "embedding",
        dim = dim, k = 3, nPlanes = 8, bands = 2, probes = probes)
        .where($"rank" === 1).select("query_id", "vec_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0L until 10L).count(i => got.get(i).contains(i + 100L)) / 10.0
    }
    val candPlain = SimilaritySearch.lshCandidateCount(df, q, "vec_id",
      "embedding", dim = dim, nPlanes = 8, bands = 2)
    val candMp = SimilaritySearch.lshCandidateCount(df, q, "vec_id",
      "embedding", dim = dim, nPlanes = 8, bands = 2, probes = 2)
    // exact bucket is always in the probe set -> candidates only grow
    assert(candMp >= candPlain, s"mp=$candMp plain=$candPlain")
    val rPlain = recallOf(0)
    val rMp = recallOf(2)
    assert(rMp >= rPlain, s"mp=$rMp plain=$rPlain")
    // at 8 planes/2 bands the exact bucket misses some planted pairs;
    // 2 margin-guided probes must recover at least one of them
    assert(rMp > rPlain, s"probes added no recall (mp=$rMp plain=$rPlain)")
  }

  test("multi-probe lsh is deterministic (literal planes, stable sort)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    val df = (0L until 80L)
      .map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val q = df.where($"vec_id" < 5)
    def run() = SimilaritySearch.lshTopK(df, q, "vec_id", "embedding",
      dim = dim, k = 5, nPlanes = 6, bands = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(run() == run())
  }

  test("multi-probe lsh rejects a malformed query vector loudly") {
    import spark.implicits._
    val dim = 8
    val good = (0L until 20L)
      .map(i => (i, Array.fill(dim)(0.5f))).toDF("vec_id", "embedding")
    val badQ = Seq((99L, Array.fill(dim - 1)(0.5f)))
      .toDF("vec_id", "embedding")
    // the probed query side must inherit the fused expression's length
    // check — a short vector silently null-padded by zip_with would
    // probe garbage buckets instead of erroring
    intercept[Exception] {
      SimilaritySearch.lshTopK(good, badQ, "vec_id", "embedding",
        dim = dim, k = 3, nPlanes = 4, bands = 2, probes = 2).collect()
    }
  }

  test("ivf with nProbe == nCentroids is exactly brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 16
    val df = (0L until 120L)
      .map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val q = df.where($"vec_id" < 4)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // probing every list scans every vector (each lives in exactly one
    // list), so IVF degrades to the exact search bit-for-bit
    val exact = key(SimilaritySearch.bruteForceTopK(
      df, q, "vec_id", "embedding", k = 5))
    val ivfAll = key(SimilaritySearch.ivfTopK(
      df, q, "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 8))
    assert(ivfAll == exact)
  }

  test("ivf pruned probe: subset of brute with exact pair cosines") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 16
    val df = (0L until 150L)
      .map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val q = df.where($"vec_id" < 4)
    val bruteCos = SimilaritySearch.bruteForceTopK(
      df, q, "vec_id", "embedding", k = 149).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = SimilaritySearch.ivfTopK(
      df, q, "vec_id", "embedding", k = 5, nCentroids = 10, nProbe = 3)
      .collect()
    assert(ivf.nonEmpty)
    // every returned pair carries the TRUE cosine (IVF prunes lists,
    // never approximates the distance) and never a self-pair
    ivf.foreach { r =>
      val p = (r.getLong(0), r.getLong(1))
      assert(p._1 != p._2)
      assert(math.abs(bruteCos(p) - r.getDouble(2)) < 1e-12, s"pair $p")
      assert(r.getInt(3) <= 5)
    }
    // determinism: plan-time literal centroids, stable tie-breaks
    val again = SimilaritySearch.ivfTopK(
      df, q, "vec_id", "embedding", k = 5, nCentroids = 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(again ==
      ivf.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet)
  }

  /** 4 clusters around orthogonal base directions; ids 0..3 are the
    * noisiest member of each cluster (so the sampled quantizer seeds
    * are deliberately bad), the rest are base + small noise.
    */
  private def clusteredVecs(dim: Int = 8, perCluster: Int = 10) = {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    def mk(cluster: Int, noise: Double): Array[Float] =
      Array.tabulate(dim) { d =>
        val base = if (d == cluster * 2 || d == cluster * 2 + 1) 1.0f else 0.0f
        base + (rnd.nextFloat() * 2 - 1) * noise.toFloat
      }
    (0 until 4).flatMap { c =>
      (0 until perCluster).map { j =>
        val id = j * 4L + c // id % 4 == cluster; ids 0..3 one per cluster
        (id, mk(c, if (j == 0) 0.9 else 0.25))
      }
    }.toDF("vec_id", "embedding")
  }

  test("trainCentroids: deterministic, unit-norm, converges to cluster means") {
    val df = clusteredVecs()
    val trained = SimilaritySearch.trainCentroids(
      df, "vec_id", "embedding", nCentroids = 4, rounds = 5)
    val again = SimilaritySearch.trainCentroids(
      df, "vec_id", "embedding", nCentroids = 4, rounds = 5)
    assert(trained.toSeq == again.toSeq)
    trained.foreach { case (cid, v) =>
      val norm = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-3, s"cid $cid norm $norm")
    }
    // each cluster's base direction is captured by some trained centroid
    (0 until 4).foreach { c =>
      val base = Array.tabulate(8)(d =>
        if (d == c * 2 || d == c * 2 + 1) 1.0 else 0.0)
      val bn = math.sqrt(2.0)
      val best = trained.map { case (_, v) =>
        (0 until 8).map(d => v(d) * base(d)).sum / (bn * math.sqrt(v.map(x => x * x).sum))
      }.max
      assert(best > 0.9, s"cluster $c best cosine $best")
    }
    // rounds = 0 returns the (renormalization-free) raw seeds — training
    // actually moved the quantizer
    val seeds = SimilaritySearch.trainCentroids(
      df, "vec_id", "embedding", nCentroids = 4, rounds = 0)
    assert(trained.toSeq != seeds.toSeq)
  }

  test("trained quantizer: full probe stays exact; Lloyd improves the assignment objective") {
    import org.apache.spark.sql.functions._
    val df = clusteredVecs()
    val q = df.where(col("vec_id") < 4)
    val trained = SimilaritySearch.trainCentroids(
      df, "vec_id", "embedding", nCentroids = 4, rounds = 5)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // probing every list is exact regardless of where the centroids sit
    assert(key(SimilaritySearch.ivfTopK(df, q, "vec_id", "embedding",
      k = 5, nCentroids = 4, nProbe = 4, centroids = Some(trained))) ==
      key(SimilaritySearch.bruteForceTopK(df, q, "vec_id", "embedding", k = 5)))
    // k-means objective: mean max-cosine of each vector to its quantizer
    // must improve over the (deliberately noisy) sampled seeds
    val vecs = df.collect().map(_.getSeq[Float](1).map(_.toDouble))
    def objective(cents: Array[(Long, Seq[Double])]): Double = {
      val per = vecs.map { v =>
        val vn = math.sqrt(v.map(x => x * x).sum)
        cents.map { case (_, c) =>
          val cn = math.sqrt(c.map(x => x * x).sum)
          v.zip(c).map { case (a, b) => a * b }.sum / (vn * cn)
        }.max
      }
      per.sum / per.length
    }
    val sampled = SimilaritySearch.trainCentroids(
      df, "vec_id", "embedding", nCentroids = 4, rounds = 0)
    assert(objective(trained) > objective(sampled),
      s"trained ${objective(trained)} vs sampled ${objective(sampled)}")
  }

  test("lsh top-k returns a subset with matching signature") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val vecs = (0L until 100L)
      .map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val res = SimilaritySearch.lshTopK(vecs,
      vecs.where($"vec_id" < 3), "vec_id", "embedding", dim = dim,
      k = 5, nPlanes = 4)
    // every returned neighbor must be a real vector and rank <= 5
    val rows = res.collect()
    assert(rows.forall(_.getInt(3) <= 5))
    assert(rows.nonEmpty)
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("language id heuristic over all 14 signature languages") {
    import spark.implicits._
    val fixtures = Seq(
      "en" -> "the cat is on the mat and the dog is in the house",
      "de" -> "der Hund ist nicht in das Haus und die Katze ist da",
      "fr" -> "le chat est sur la table et les enfants sont la",
      "es" -> "el perro y el gato es que los dos corren",
      "it" -> "il gatto che dorme per una notte con il cane",
      "pt" -> "o gato em que uma casa do campo da cidade",
      "nl" -> "de kat is niet in het huis en een hond van hem",
      "sv" -> "det är en katt som springer och att den är snabb",
      "pl" -> "kot jest w domu i nie ma się na co skarżyć",
      "ru" -> "кошка сидит на окне и смотрит что это не птица",
      "tr" -> "bu bir kedi ve köpek için çok güzel bir gün ile",
      "id" -> "kucing yang tidur di rumah ini dan untuk makan dengan ikan",
      "ja" -> "猫は窓の外を見ています犬もいました",
      "zh" -> "我们的猫是在房子里了和狗在一起",
      "und" -> "xyzzy plugh 12345")
    val got = fixtures.toDF("expected", "text")
      .select(col("expected"), TextAnalysis.langIdCol(col("text")).as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (expected, l) =>
      assert(l == expected, s"expected $expected, got $l")
    }
  }

  test("graft_langid is bit-identical to the declarative langIdCol") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // fixture sentences + driver documents + adversarial strings (ties,
    // empty, repeated signatures, mixed scripts)
    val texts = Seq(
      "", " ", "the the the", " la la la ", "der le el the и の 的",
      "a b c", "xyzzy", "ist nicht der die das und است این",
      "el que los y es la " * 3, "yang dan di ini untuk dengan",
      "我们的猫是在了和", "のははをですます", " e è il di che per con una ") ++
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("text").collect().map(_.getString(0)).toSeq
    val df = texts.toDF("text")
    val mismatches = df.select(
      TextAnalysis.langIdCol(col("text")).as("slow"),
      TextAnalysis.langIdFastCol(col("text")).as("fast"),
      col("text"))
      .where(col("slow") =!= col("fast"))
      .collect()
    assert(mismatches.isEmpty,
      mismatches.take(5).map(_.toString).mkString("\n"))
    // scored struct parity too: floored guess and raw hit count
    val scoredMismatch = df.select(
      TextAnalysis.langIdScoredCol(col("text"), minHits = 2).as("slow"),
      TextAnalysis.langIdScoredFastCol(col("text"), minHits = 2).as("fast"))
      .where(col("slow.lang") =!= col("fast.lang") ||
        col("slow.hits") =!= col("fast.hits"))
      .collect()
    assert(scoredMismatch.isEmpty,
      scoredMismatch.take(5).map(_.toString).mkString("\n"))
  }

  test("langid confidence floor: low-hit and ambiguous docs route to und") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // (text, expected lang at floor=1, expected lang at floor=2, hits)
    val fixtures = Seq(
      // single stopword hit: a guess at floor 1, noise ("und") at floor 2
      ("the quick brown fox", "en", "und", 1),
      // " la " ties fr and es at one hit; greater lang wins the tie (fr)
      ("la niebla", "fr", "und", 1),
      // two hits survive the floor
      ("the cat and dog", "en", "en", 2),
      // zero hits: und at every floor, hits preserved as 0
      ("xyzzy plugh 12345", "und", "und", 0),
      ("", "und", "und", 0),
      // strong signal (der x2, ist, nicht, und, die) unaffected by floor
      ("der hund ist nicht in der küche und die katze", "de", "de", 6))
    val got = fixtures.map(_._1).toDF("text")
      .select(col("text"),
        TextAnalysis.langIdFastCol(col("text"), minHits = 1).as("l1"),
        TextAnalysis.langIdScoredFastCol(col("text"), minHits = 2).as("s2"))
      .collect().map(r => r.getString(0) -> ((r.getString(1),
        r.getStruct(2).getString(0), r.getStruct(2).getInt(1)))).toMap
    fixtures.foreach { case (text, l1, l2, hits) =>
      val (g1, g2, h) = got(text)
      assert(g1 == l1, s"floor=1 on '$text': expected $l1, got $g1")
      assert(g2 == l2, s"floor=2 on '$text': expected $l2, got $g2")
      assert(h == hits, s"hits on '$text': expected $hits, got $h")
    }
  }

  test("token counting and quality") {
    import spark.implicits._
    val df = Seq((1L, "one two  three"), (2L, "x")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityFeatures(df, "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(1L).getAs[Double]("n_tokens") == 3.0)
    assert(q(2L).getAs[Double]("quality_score") == 0.0) // too short
  }

  test("fingerprint is whitespace/case insensitive") {
    import spark.implicits._
    val df = Seq(("A  b\tC", "a b c")).toDF("x", "y")
    val r = df.select(
      (TextAnalysis.fingerprintCol(col("x")) ===
        TextAnalysis.fingerprintCol(col("y"))).as("eq")).head()
    assert(r.getBoolean(0))
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  test("synthesize + extract features is deterministic and typed") {
    val media = Multimodal.synthesize(spark, 30)
    assert(media.schema.fieldNames.toSet ==
      Multimodal.mediaSchema.fieldNames.toSet)
    val f1 = Multimodal.extractFeatures(media, featureDim = 8)
      .orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media, featureDim = 8)
      .orderBy("media_id").collect()
    assert(f1.length == 30)
    assert(f1.map(_.getSeq[Float](2)).zip(f2.map(_.getSeq[Float](2)))
      .forall { case (a, b) => a == b })
  }

  test("image payloads are real PNGs; decode recovers actual dimensions") {
    import spark.implicits._
    // scalar: decode(encode(pixels)) recovers the metadata dims
    val (_, kind, mime, w, h, _, payload) = Multimodal.syntheticRow(0L, 42L)
    assert(kind == "image" && mime == "image/png")
    assert(payload.take(8).sameElements(
      Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n').map(_.toByte)),
      "payload must be an actual PNG stream")
    val feats = Multimodal.decodeImage(payload, 16)
    assert(feats(0) == w.get.toFloat && feats(1) == h.get.toFloat)
    // histogram mass sums to ~1 (one vote per decoded pixel)
    assert(math.abs(feats.drop(2).sum - 1.0f) < 1e-3)

    // distributed: the mapPartitions path decodes every image row to the
    // same features as the scalar path
    val media = Multimodal.synthesize(spark, 30)
    val images = Multimodal.extractFeatures(media, featureDim = 16)
      .where(col("kind") === "image")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(images.nonEmpty)
    images.foreach { case (id, got) =>
      val (_, k, _, _, _, _, p) = Multimodal.syntheticRow(id, 42L)
      assert(k == "image")
      assert(got == Multimodal.decodeImage(p, 16).toSeq, s"media $id")
    }
  }

  test("image and video codecs leave ImageIO's JVM-global cache switch alone") {
    val saved = javax.imageio.ImageIO.getUseCache
    javax.imageio.ImageIO.setUseCache(true)
    try {
      val rnd = new scala.util.Random(5L)
      Multimodal.decodeImage(Multimodal.syntheticPng(rnd, 16, 12), 8)
      Multimodal.decodeVideo(
        Multimodal.syntheticAviMjpeg(rnd, 16, 12, nFrames = 3, fps = 4), 8)
      assert(javax.imageio.ImageIO.getUseCache)
    } finally javax.imageio.ImageIO.setUseCache(saved)
  }

  test("audio payloads are real PCM WAVs; decode recovers samples + spectrum") {
    import spark.implicits._
    // scalar: the generated payload is an actual RIFF/WAVE stream and
    // decode recovers the exact sample count behind duration_ms
    val (_, kind, mime, _, _, durMs, payload) = Multimodal.syntheticRow(1L, 42L)
    assert(kind == "audio" && mime == "audio/wav")
    assert(new String(payload.take(4), "US-ASCII") == "RIFF" &&
      new String(payload.slice(8, 12), "US-ASCII") == "WAVE",
      "payload must be an actual WAV stream")
    val feats = Multimodal.decodeAudio(payload, 16)
    assert(feats(0).toLong * 1000L / 8000L == durMs.get,
      s"decoded sample count ${feats(0)} inconsistent with duration $durMs")
    assert(feats(1) > 0.1f && feats(1) < 1.0f,
      s"RMS of the two-sine waveform out of range: ${feats(1)}")

    // spectral decode is real: a pure sine at a band-center frequency
    // concentrates Goertzel energy in exactly that band
    val rate = 8000
    val nBands = 14
    val targetBand = 4
    val freq = (targetBand + 0.5) / nBands * (rate / 2.0)
    val n = 2048
    val data = new Array[Byte](n * 2)
    (0 until n).foreach { t =>
      val s = math.round(
        20000 * math.sin(2 * math.Pi * freq * t / rate)).toInt
      data(2 * t) = (s & 0xFF).toByte
      data(2 * t + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val sineFeats = Multimodal.decodeAudio(bos.toByteArray, 2 + nBands)
    val bands = sineFeats.drop(2)
    assert(bands.indexOf(bands.max) == targetBand,
      s"sine at band $targetBand peaked at ${bands.indexOf(bands.max)}: " +
        bands.mkString(","))

    // distributed: the mapPartitions path decodes every audio row to the
    // same features as the scalar path
    val media = Multimodal.synthesize(spark, 30)
    val audio = Multimodal.extractFeatures(media, featureDim = 16)
      .where(col("kind") === "audio")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(audio.nonEmpty)
    audio.foreach { case (id, got) =>
      val (_, k, _, _, _, _, p) = Multimodal.syntheticRow(id, 42L)
      assert(k == "audio")
      assert(got == Multimodal.decodeAudio(p, 16).toSeq, s"media $id")
    }
  }

  test("video payloads are real MJPEG AVIs; decode recovers frames + motion") {
    import spark.implicits._
    // scalar: the generated payload is an actual RIFF/AVI stream and
    // decode recovers the exact frame count and dimensions behind the
    // metadata
    val (_, kind, mime, w, h, durMs, payload) = Multimodal.syntheticRow(2L, 42L)
    assert(kind == "video" && mime == "video/avi")
    assert(new String(payload.take(4), "US-ASCII") == "RIFF" &&
      new String(payload.slice(8, 12), "US-ASCII") == "AVI ",
      "payload must be an actual AVI stream")
    val feats = Multimodal.decodeVideo(payload, 11)
    assert(feats(0).toLong * 1000L / 4L == durMs.get,
      s"decoded frame count ${feats(0)} inconsistent with duration $durMs")
    assert(feats(1) == w.get.toFloat && feats(2) == h.get.toFloat)
    // the synthetic frames ramp dark -> bright over time; the decoded
    // temporal luminance curve must be increasing end-to-end
    val curve = feats.drop(3).filter(_ > 0f)
    assert(curve.length >= 2 && curve.last > curve.head + 0.2f,
      s"luminance ramp not recovered: ${feats.drop(3).mkString(",")}")

    // distributed: the mapPartitions path decodes every video row to the
    // same features as the scalar path
    val media = Multimodal.synthesize(spark, 30)
    val videos = Multimodal.extractFeatures(media, featureDim = 16)
      .where(col("kind") === "video")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(videos.nonEmpty)
    videos.foreach { case (id, got) =>
      val (_, k, _, _, _, _, p) = Multimodal.syntheticRow(id, 42L)
      assert(k == "video")
      assert(got == Multimodal.decodeVideo(p, 16).toSeq, s"media $id")
    }
  }

  test("media decoders handle boundary shapes and reject junk loudly") {
    val rnd = new scala.util.Random(7)
    // single 1x1 frame video
    val avi = Multimodal.syntheticAviMjpeg(rnd, 1, 1, 1, 4)
    val vf = Multimodal.decodeVideo(avi, 4)
    assert(vf(0) == 1f && vf(1) == 1f && vf(2) == 1f)
    // single-sample wav
    val wav = Multimodal.syntheticWav(rnd, 1, 8000)
    assert(Multimodal.decodeAudio(wav, 3)(0) == 1f)
    // more time buckets than frames: empty buckets stay zero, no crash
    val avi2 = Multimodal.syntheticAviMjpeg(rnd, 4, 4, 2, 4)
    val vf2 = Multimodal.decodeVideo(avi2, 13)
    assert(vf2(0) == 2f && vf2.drop(3).count(_ > 0f) <= 2)
    // a malformed chunk size must terminate the walk (not loop/overread):
    // valid RIFF/AVI magic but a chunk declaring a size past the buffer
    val malformed = java.util.Arrays.copyOf(avi, 64)
    malformed(16) = 0xFF.toByte; malformed(17) = 0xFF.toByte
    malformed(18) = 0xFF.toByte; malformed(19) = 0x7F.toByte
    val mf = Multimodal.decodeVideo(malformed, 4)
    assert(mf(0) == 0f, "malformed stream must decode to zero frames")
    // a declared RIFF size >= 2^31-8 must not overflow the Int walk bound
    // to a negative end (which would silently no-op the walk and return an
    // all-zero vector): the bound clamps to the actual buffer and the
    // frames still decode
    val hugeDecl = avi2.clone()
    hugeDecl(4) = 0xFF.toByte; hugeDecl(5) = 0xFF.toByte
    hugeDecl(6) = 0xFF.toByte; hugeDecl(7) = 0xFF.toByte
    val hf = Multimodal.decodeVideo(hugeDecl, 4)
    assert(hf(0) == 2f,
      s"huge declared RIFF size dodged the walk (frames=${hf(0)})")
    // junk bytes fail loudly (a silent fake vector would poison dedup)
    intercept[Exception](Multimodal.decodeVideo(Array[Byte](1, 2, 3), 4))
    intercept[Exception](Multimodal.decodeAudio(Array.fill[Byte](64)(0), 3))
    intercept[Exception](Multimodal.decodeImage(Array.fill[Byte](16)(9), 16))
  }

  test("frame sampling explodes video rows") {
    val media = Multimodal.synthesize(spark, 30)
    val frames = Multimodal.sampleFrames(media, everyMs = 10000L)
    assert(frames.count() >=
      media.where(col("kind") === "video").count())
  }
}
