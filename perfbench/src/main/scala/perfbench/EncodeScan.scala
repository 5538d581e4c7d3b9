package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.phonetic._
import graft.phonetic.bm.BeiderMorse

/** Workload `encode_scan`: projections over generated name tokens held in
  * memory, with no shuffle and no I/O, so the phonetic kernels do almost
  * all the work. One pass runs three scans: the 12 table-driven encoders,
  * the pairwise scoring feature set (`Scoring.score`) and Beider-Morse.
  * The cold pass plans the scans, generates their code and warms the JIT;
  * after two more untimed passes, warm passes re-execute each scan's RDD,
  * so they time the kernels. A sample of the output is checked against
  * the scalar encoders.
  *
  * Traced runs also drive the driver queries ([[DriverQueries]]), whose
  * per-family numbers have no workload of their own.
  */
object EncodeScan {

  /** Rows of the token table, all of which the scoring scan reads. The
    * encoder and Beider-Morse scans read every `EncodeStride`-th and
    * `BmStride`-th row (spread over every partition), so that each scan
    * takes a similar share of a pass.
    */
  val Rows = 640000L
  val EncodeStride = 4
  val BmStride = 20
  val PoolSize = 4096
  val SampleRows = 500

  /** The 13 encoders as scalar calls (the reference for the sample check). */
  val Encoders: Seq[(String, String => Seq[String])] = Seq(
    "soundex" -> (s => Seq(Soundex.default.encode(s))),
    "refined_soundex" -> (s => Seq(RefinedSoundex.default.encode(s))),
    "metaphone" -> (s => Seq(Metaphone.default.encode(s))),
    "double_metaphone" -> { s =>
      val r = DoubleMetaphone.default.doubleMetaphone(s); Seq(r.primary, r.alternate)
    },
    "nysiis" -> (s => Seq(Nysiis.default.encode(s))),
    "phonex" -> (s => Seq(Phonex.default.encode(s))),
    "cologne" -> (s => Seq(Cologne.encode(s))),
    "caverphone1" -> (s => Seq(Caverphone1.encode(s))),
    "caverphone2" -> (s => Seq(Caverphone2.encode(s))),
    "mra_encode" -> (s => Seq(MatchRatingApproach.encode(s))),
    "dm_soundex" -> (s => DaitchMokotoff.default.innerSoundex(s, branching = true)),
    "dm_encode" -> (s => Seq(DaitchMokotoff.default.encode(s))),
    "beider_morse" -> (s => BeiderMorse.splitCodes(BeiderMorse.default.encode(s)).toSeq))

  /** The SQL function behind each encoder; `bm_codes` is Beider-Morse. */
  private def sqlName(encoder: String): String = encoder match {
    case "beider_morse" => "graft_bm_codes"
    case other => s"graft_$other"
  }

  private def encoded(encoder: String): Column = {
    val c = call_function(sqlName(encoder), col("token"))
    if (Set("double_metaphone", "dm_soundex", "beider_morse")(encoder)) c else array(c)
  }

  /** Name-like tokens for `seed`: the fixture names and synthetic names of
    * 3 to 12 letters, a few of them with accented letters.
    */
  def pool(seed: Long): Array[String] = {
    val r = new SplittableRandom(seed)
    val fixtures = graft.pipeline.NameFixtures.families.flatten
      .map(_.filter(_.isLetter).toLowerCase).distinct
    val onsets = Array("b", "br", "c", "ch", "d", "f", "g", "gh", "h", "j", "k", "kl", "l",
      "m", "n", "p", "ph", "r", "s", "sch", "sh", "st", "t", "th", "v", "w", "y", "z", "ts")
    val vowels = Array("a", "e", "i", "o", "u", "y", "ai", "ie", "ou", "é", "ö", "ü")
    val synthetic = Iterator.continually {
      val sb = new StringBuilder
      while (sb.length < 3 + r.nextInt(10)) {
        sb ++= onsets(r.nextInt(onsets.length))
        sb ++= vowels(r.nextInt(if (r.nextInt(20) == 0) vowels.length else vowels.length - 3))
      }
      sb.toString
    }
    (fixtures.iterator ++ synthetic).take(PoolSize).toArray
  }

  def apply(run: Run): Outcome = {
    val spark = run.spark
    val rows = if (run.smoke) Rows / 100 else Rows
    val names = typedLit(pool(run.seed))
    def pick(salt: Long) =
      element_at(names, (pmod(xxhash64(col("id"), lit(run.seed + salt)), lit(PoolSize)) + 1).cast("int"))

    // set-up, Run.SetUps times: generate the token table into memory
    var tokens: DataFrame = null
    val setups = (1 to Run.SetUps).map { _ =>
      if (tokens != null) tokens.unpersist(blocking = true)
      Stats.time {
        tokens = spark.range(0, rows, 1, run.cores * 4)
          .select(col("id"), pick(0).as("token"), pick(1).as("token_b"))
          .persist(StorageLevel.MEMORY_ONLY)
        run.check(s"token table: $rows rows")(tokens.count() == rows)
      }._2
    }

    val encoders = Encoders.filter(_._1 != "beider_morse")
    val scans: Seq[(String, Long, DataFrame)] = Seq(
      ("encode", rows / EncodeStride, tokens.where(col("id") % EncodeStride === 0)
        .select(encoders.map { case (e, _) => size(encoded(e)) }.reduce(_ + _).as("w"))),
      ("score", rows, graft.pipeline.Scoring.score(
        tokens.select(col("id").as("src"), (col("id") + 1).as("dst"),
          col("token").as("token_a"), col("token_b")))
        .select((col("jaro_winkler") + col("lev") + col("mra_rating") + col("soundex_diff") +
          col("mra_match").cast("int") + col("metaphone_eq").cast("int")).as("w"))),
      ("bm", rows / BmStride, tokens.where(col("id") % BmStride === 0)
        .select(size(encoded("beider_morse")).as("w"))))

    val (rdds, cold, _) = run.timed(scans.map { case (name, n, df) =>
      val rdd = df.queryExecution.toRdd
      run.check(s"cold $name scan: $n rows")(rdd.count() == n)
      rdd
    })
    // two untimed passes more: the JIT keeps compiling the scans' hot code
    (1 to 2).foreach(_ => rdds.foreach(_.count()))
    val times = scans.map(_._1 -> Seq.newBuilder[Double]).toMap
    val cpu = Seq.newBuilder[Double]
    val warm = run.repeatFor(min = 3, System.nanoTime()) { i =>
      val (_, _, c) = run.timed(scans.zip(rdds).foreach { case ((name, n, _), rdd) =>
        val (ok, dt) = Stats.time(run.tracer.span(s"w$i/$name") {
          run.op(s"w$i $name scan")(rdd.count() == n)
        })
        run.check(s"w$i $name scan: $n rows")(ok.getOrElse(true))
        times(name) += dt
      })
      cpu += c
    }
    checkSample(run, tokens)
    tokens.unpersist()
    val perScan = scans.map { case (name, n, _) => (name, n, Stats.median(times(name).result())) }
    val queries = if (run.trace) DriverQueries(run) else () => Map.empty[String, Double]

    Outcome(
      endToEnd = Map(
        "setup_s" -> Stats.median(setups),
        "cold_s" -> cold,
        "warm_s" -> Stats.median(warm),
        "warm_cpu_s" -> Stats.median(cpu.result())),
      layers = () => layers(run, perScan, Stats.median(warm)) ++ queries(),
      info = Map(
        "rows" -> rows,
        "setup_runs" -> setups,
        "warm_passes" -> warm) ++
        perScan.map { case (name, n, s) => s"${name}_rows_per_s" -> n / s })
  }

  private def layers(run: Run, perScan: Seq[(String, Long, Double)],
      warm: Double): Map[String, Double] = {
    val pure = run.pureNs
    val pureScan = Map(
      "encode" -> Encoders.filter(_._1 != "beider_morse").map(e => pure(e._1)).sum,
      "score" -> pure("score"),
      "bm" -> pure("beider_morse"))
    perScan.flatMap { case (name, n, s) =>
      Seq(
        s"functions.$name.rows_per_s" -> n / s,
        s"functions.$name.spark_vs_pure" -> (s * 1e9 * run.cores / n) / pureScan(name))
    }.toMap + ("trace.warm_s" -> warm)
  }

  /** Spark's output for a sample of rows against the scalar encoders and
    * scoring functions. With `corrupt` one expected code is altered.
    */
  private def checkSample(run: Run, tokens: DataFrame): Unit = {
    val sample = tokens.where(col("id") < SampleRows)
      .select(Seq(col("token"), col("token_b")) ++
        Encoders.map { case (e, _) => encoded(e).as(e) } :+
        call_function("graft_score_features", col("token"), col("token_b")).as("score"): _*)
      .collect()
    sample.zipWithIndex.foreach { case (row, k) =>
      val token = row.getString(0)
      Encoders.zipWithIndex.foreach { case ((e, scalar), j) =>
        val expected = if (run.corrupt && k == 0 && j == 0) Seq("?") else scalar(token)
        run.check(s"$e($token) matches the scalar encoder") {
          row.getSeq[String](2 + j) == expected
        }
      }
      val features = row.getStruct(2 + Encoders.size)
      run.check(s"score features of ($token, ${row.getString(1)}) match the scalar functions") {
        features == scalarScore(token, row.getString(1))
      }
    }
  }

  /** The scoring features from the scalar functions, as Spark returns them. */
  private def scalarScore(a: String, b: String): Row = {
    val (rating, matched) = MatchRatingApproach.ratingAndMatch(a, b)
    Row(JaroWinkler.similarity(a, b),
      UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b)),
      matched, rating,
      Metaphone.unbounded.encode(a) == Metaphone.unbounded.encode(b),
      Soundex.default.difference(a, b))
  }
}

/** Single-thread, no-Spark timings of the scalar kernels. */
object PureKernels {

  /** Nanoseconds per call of each encoder and of the scoring features,
    * median of five timed batches after a warm-up batch.
    */
  def nsPerRow(tokens: Array[String]): Map[String, Double] = {
    val utf = tokens.map(UTF8String.fromString)
    val kernels: Seq[(String, Int => Any)] =
      EncodeScan.Encoders.map { case (e, f) => e -> ((k: Int) => f(tokens(k % tokens.length))) } :+
        ("score" -> ((k: Int) => graft.functions.PhoneticFunctions.scoreFeatures(
          utf(k % utf.length), utf((k * 7 + 1) % utf.length))))
    kernels.map { case (name, f) =>
      val batch = if (name == "beider_morse") 2000 else 40000
      def once(): Double = {
        val t0 = System.nanoTime()
        var k = 0
        var h = 0
        while (k < batch) { h += f(k).hashCode; k += 1 }
        sink = h
        (System.nanoTime() - t0).toDouble / batch
      }
      once()
      name -> Stats.median(Seq.fill(5)(once()))
    }.toMap
  }

  /** Keeps the kernels' results observable so the JIT cannot drop them. */
  @volatile private var sink = 0
}
