package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** TableIO commit protocol: observe()-collected manifest metrics, resume
  * semantics, invalidation, and the outcome of each injected failure.
  */
class TableIOSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-tableio").toString

  /** Rewrite the file `name` under a TableIO root behind TableIO's back,
    * and drop the Hadoop LocalFileSystem checksum sidecar the rewrite
    * invalidates.
    */
  private def rewriteOutOfBand(root: String, name: String,
      content: Array[Byte]): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(root, name), content)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root, s".$name.crc"))
  }

  private def values(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.collect().map(_.getInt(0)).toSeq.sorted

  test("stage commit writes a manifest with observed metrics") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    var computed = 0
    val df = io.stage("nums") {
      computed += 1
      (1 to 100).toDF("n")
    }
    assert(computed == 1)
    assert(df.count() == 100)
    val m = io.manifest("nums").get
    assert(m.rows == 100, m)
    assert(m.files > 0 && m.bytes > 0, m)
    assert(m.fileBytes.min > 0 && m.fileBytes.min <= m.fileBytes.max, m)

    // resume: compute must NOT run again
    val again = io.stage("nums") {
      computed += 1
      (1 to 5).toDF("n")
    }
    assert(computed == 1, "resume must not recompute a committed stage")
    assert(again.count() == 100)

    // invalidate forces recompute
    io.invalidate("nums")
    assert(!io.isCommitted("nums"))
    val fresh = io.stage("nums") {
      computed += 1
      (1 to 5).toDF("n")
    }
    assert(computed == 2)
    assert(fresh.count() == 5)
  }

  test("partitionBy lays out hive partitions and pruning reaches the scan") {
    import spark.implicits._
    val root = tmpDir()
    val io = new TableIO(spark, root)
    val df = io.stage("by_lang", partitionBy = Seq("lang")) {
      Seq((1L, "scala"), (2L, "java"), (3L, "scala"), (4L, "rust"))
        .toDF("id", "lang")
    }
    assert(df.count() == 4)
    // hive-style partition directories on disk
    val dirs = new java.io.File(s"$root/by_lang").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("lang=scala", "lang=java", "lang=rust"), dirs)
    // a language filter becomes a PartitionFilter (storage-level pruning),
    // not a post-scan row filter
    val plan = io.read("by_lang").where($"lang" === "scala")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
    assert(io.read("by_lang").where($"lang" === "scala").count() == 2)
  }

  test("a stage whose upstream recomputed after it is not resumed") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    io.stage("a") { (1 to 3).toDF("n") }
    var bComputes = 0
    def computeB() = io.stage("b", upstream = Seq("a")) {
      bComputes += 1
      io.read("a")
    }
    computeB()
    computeB()
    assert(bComputes == 1, "b with an unchanged upstream must resume")
    // upstream invalidated and recomputed under the same root: resuming b
    // would silently pair it with data it was not computed from
    io.invalidate("a")
    io.stage("a") { (1 to 7).toDF("n") }
    val b2 = computeB()
    assert(bComputes == 2, "b must recompute after its upstream moved")
    assert(b2.count() == 7)
  }

  test("staleness is judged by opaque commit tokens, not wall-clock order") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    io.stage("a") { (1 to 3).toDF("n") }
    val tok1 = io.committedToken("a")
    assert(tok1.exists(_.nonEmpty), "every commit must mint a token")
    io.stage("b", upstream = Seq("a")) { io.read("a") }
    // the downstream manifest records the upstream token it was computed
    // against — the equality the guard compares
    val mb = io.manifest("b").get
    assert(mb.upstreamTokens == Map("a" -> tok1.get), mb)
    // recommit the upstream back-to-back (same wall-clock millisecond is
    // possible — the failure mode Instant ordering could not see): the
    // token MUST change and the downstream MUST recompute
    io.invalidate("a")
    io.stage("a") { (1 to 9).toDF("n") }
    val tok2 = io.committedToken("a")
    assert(tok2.isDefined && tok2 != tok1,
      "a recommit must mint a DIFFERENT token")
    var recomputed = false
    val b2 = io.stage("b", upstream = Seq("a")) {
      recomputed = true; io.read("a")
    }
    assert(recomputed, "token mismatch must invalidate the downstream")
    assert(b2.count() == 9)
  }

  test("arbitrary metadata round-trips; a stage name must be one path segment") {
    import spark.implicits._
    val root = tmpDir()
    val io = new TableIO(spark, root)
    val metadata = Map(
      "q\"uote" -> "v\"al}ue",
      "back\\slash" -> "a\\b\\\"c",
      "co:lon}" -> "{\"k\":\"v\"}",
      "new\nline" -> "line1\nline2\r\n",
      "ünï" -> "名前 ß é \u0001")
    io.stage("m", metadata = metadata) { (1 to 2).toDF("n") }
    // read back by a fresh TableIO: nothing but the file carries it
    assert(new TableIO(spark, root).manifest("m").map(_.metadata)
      .contains(metadata))
    intercept[IllegalArgumentException] {
      io.stage("a/b") { (1 to 2).toDF("n") }
    }
    intercept[IllegalArgumentException] {
      io.stage("") { (1 to 2).toDF("n") }
    }
  }

  test("a metadata key equal to an upstream name reads the metadata value, not the token") {
    import spark.implicits._
    val io = new TableIO(spark, tmpDir())
    io.stage("edges") { (1 to 3).toDF("n") }
    io.stage("s", upstream = Seq("edges"),
      metadata = Map("edges" -> "v1")) { io.read("edges") }
    // metadata and upstream tokens are separate maps: a key shadowing an
    // upstream name must still read its own value
    assert(io.manifest("s").flatMap(_.metadata.get("edges")).contains("v1"))
    val tok = io.committedToken("edges").get
    val m = io.manifest("s").get
    assert(m.upstreamTokens == Map("edges" -> tok), m)
  }

  test("upstream lineage is recorded") {
    import spark.implicits._
    val root = tmpDir()
    val io = new TableIO(spark, root)
    io.stage("a") { (1 to 3).toDF("n") }
    io.stage("b", upstream = Seq("a")) { io.read("a") }
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "b.manifest.json")), "UTF-8")
    assert(m.contains("\"upstream\":[\"a\"]"), m)
    // the benchmark's manifest-equality check reads these fields with
    // exactly these patterns (perfbench/src/main/scala/perfbench/
    // Linkage.scala): every one
    // must match the file TableIO writes
    val StageName = "\"stage\":\"([^\"]+)\"".r
    val CommittedAt = "\"committed_at\":\"([^\"]+)\"".r
    val Bytes = "\"bytes\":(\\d+)".r
    val Rows = "\"rows\":(\\d+)".r
    val Shape = Seq("\"rows\":\\d+", "\"files\":\\d+",
      "\"upstream\":\\[[^\\]]*\\]", "\"schema_b64\":\"[^\"]*\"").map(_.r)
    def group(r: scala.util.matching.Regex) =
      r.findFirstMatchIn(m).map(_.group(1))
    val typed = io.manifest("b").get
    assert(group(StageName).contains("b"), m)
    assert(group(Rows).contains("3"), m)
    assert(group(Bytes).contains(typed.bytes.toString), m)
    assert(group(CommittedAt).map(java.time.Instant.parse)
      .contains(java.time.Instant.parse(typed.committedAt)), m)
    Shape.foreach(r => assert(r.findFirstIn(m).isDefined, s"$r in $m"))
    assert(!m.contains("\"schema_b64\":\"\""), m)
  }

  test("a crash between the data rename and the manifest rename recomputes") {
    import spark.implicits._
    val root = tmpDir()
    // the killed commit left its data in the stage dir and no manifest
    (7 to 9).toDF("n").write.parquet(s"$root/s")
    val io = new TableIO(spark, root)
    assert(!io.isCommitted("s"))
    var computed = false
    val df = io.stage("s") { computed = true; (1 to 5).toDF("n") }
    assert(computed)
    assert(values(df) == (1 to 5))
    assert(values(new TableIO(spark, root).read("s")) == (1 to 5))
  }

  test("a truncated, non-JSON or incomplete manifest leaves the stage uncommitted") {
    import spark.implicits._
    val corruptions = Seq[(String, Array[Byte] => Array[Byte])](
      "truncated" -> (b => b.take(b.length / 2)),
      "non-JSON" -> (_ => "not a manifest".getBytes("UTF-8")),
      "empty" -> (_ => Array.emptyByteArray),
      "missing fields" -> (_ => "{\"stage\":\"a\",\"rows\":3}".getBytes("UTF-8")))
    corruptions.foreach { case (what, corrupt) =>
      val root = tmpDir()
      val io = new TableIO(spark, root)
      io.stage("a") { (1 to 3).toDF("n") }
      io.stage("b", upstream = Seq("a")) { io.read("a") }
      val p = java.nio.file.Paths.get(root, "a.manifest.json")
      rewriteOutOfBand(root, "a.manifest.json",
        corrupt(java.nio.file.Files.readAllBytes(p)))
      assert(!io.isCommitted("a"), what)
      var aComputed = false
      val a = io.stage("a") { aComputed = true; (1 to 4).toDF("n") }
      assert(aComputed, s"$what: a must recompute")
      assert(values(a) == (1 to 4), what)
      assert(io.isCommitted("a"), what)
      var bComputed = false
      val b = io.stage("b", upstream = Seq("a")) { bComputed = true; io.read("a") }
      assert(bComputed, s"$what: b recorded a's old token, so it is stale")
      assert(values(b) == (1 to 4), what)
    }
  }

  test("leftover temp files from a killed write do not change what stage() returns") {
    import spark.implicits._
    val root = tmpDir()
    val io = new TableIO(spark, root)
    io.stage("s") { (1 to 3).toDF("n") }
    // a killed recommit of s and a killed first commit of t each left a
    // temp data dir and a temp manifest
    Seq("s", "t").foreach { st =>
      (7 to 9).toDF("n").write.parquet(s"$root/_tmp_$st")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, s"_tmp_$st.manifest.json"),
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(root, "s.manifest.json")))
    }
    val io2 = new TableIO(spark, root)
    var computed = 0
    val s = io2.stage("s") { computed += 1; (4 to 6).toDF("n") }
    assert(computed == 0, "committed s must resume")
    assert(values(s) == (1 to 3))
    assert(!io2.isCommitted("t"))
    val t = io2.stage("t") { computed += 1; (4 to 6).toDF("n") }
    assert(computed == 1)
    assert(values(t) == (4 to 6))
  }
}
