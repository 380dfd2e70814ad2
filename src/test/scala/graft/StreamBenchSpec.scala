package graft

/** Smoke coverage + coverage LINT for the streaming latency harness.
  *
  * Smoke: every pipeline in [[StreamBench.covers]] must run end to end
  * on MemoryStream feeds and report non-negative percentiles (a -1
  * sentinel means a pipeline crashed — exactly the bitrot this spec
  * exists to catch before the bench silently reports it).
  *
  * Lint (the BenchRegistrySpec pattern, streaming edition): every
  * `streaming/Streaming*.scala` pipeline with a foreachBatch entry
  * point must be covered by a named latency row, and the measured app
  * set must be exactly `covers.keySet` — a new streaming pipeline
  * cannot land without a p50/p95 row in BENCH_r{N}. Every
  * `streaming/Streaming*.scala` object must moreover be a covered
  * pipeline or be called from one, so an unwired module cannot sit
  * in main unmeasured and unreached.
  */
class StreamBenchSpec extends SparkSpec {

  test("StreamBench drives every covered pipeline and reports latencies") {
    val json = StreamBench.run(spark, batches = 3, rows = 60)
    val n = StreamBench.covers.size
    val nums = """-?[0-9.]+""".r.findAllIn(
      json.replaceAll("p50_ms|p95_ms", "")).map(_.toDouble).toSeq
    assert(nums.size == 2 * n,
      s"expected $n apps x 2 percentiles in $json")
    StreamBench.covers.keys.foreach(app =>
      assert(json.contains(s""""$app":"""), s"$app missing in $json"))
    nums.foreach(d => assert(d >= 0.0, s"crashed pipeline (-1) in $json"))
  }

  test("the bench set measures exactly covers.keySet") {
    assert(StreamBench.apps(spark, 1, 1).map(_._1).toSet ===
      StreamBench.covers.keySet)
    assert(StreamBench.apps(spark, 1, 1).map(_._1).distinct.size ===
      StreamBench.covers.size, "duplicate pipeline names")
  }

  test("every streaming/Streaming*.scala pipeline with a foreachBatch " +
      "entry point has a latency row") {
    val dir = new java.io.File("src/main/scala/graft/streaming")
    assert(dir.isDirectory, s"not run from the repo root: $dir")
    val withForeachBatch = dir.listFiles()
      .filter(f => f.getName.startsWith("Streaming") &&
        f.getName.endsWith(".scala"))
      .filter { f =>
        val src = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        src.contains("foreachBatch")
      }
      .map(_.getName.stripSuffix(".scala")).toSet
    assert(withForeachBatch.nonEmpty, "lint found no pipelines — glob bug?")
    val covered = StreamBench.covers.values.toSet
    val missing = withForeachBatch -- covered
    assert(missing.isEmpty,
      s"streaming pipelines without a bench latency row: $missing")
  }

  test("every streaming/Streaming*.scala object is covered or called " +
      "from a covered pipeline's code") {
    val dir = new java.io.File("src/main/scala/graft/streaming")
    assert(dir.isDirectory, s"not run from the repo root: $dir")
    def code(f: java.io.File): String =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "") // block + doc comments
        .replaceAll("//[^\n]*", "")
    val objects = dir.listFiles()
      .filter(f => f.getName.startsWith("Streaming") &&
        f.getName.endsWith(".scala"))
      .flatMap(f => """(?m)^(?:private\[\w+\] )?object (\w+)""".r
        .findAllMatchIn(code(f)).map(_.group(1)))
      .toSet
    assert(objects.nonEmpty, "lint found no objects — glob bug?")
    val covered = StreamBench.covers.values.toSet
    val coveredCode = covered.toSeq.map { name =>
      val f = new java.io.File(dir, s"$name.scala")
      assert(f.isFile, s"covered pipeline $name has no source at $f")
      code(f)
    }
    val unreached = (objects -- covered).filterNot(o =>
      coveredCode.exists(s"\\b$o\\b".r.findFirstIn(_).isDefined))
    assert(unreached.isEmpty,
      s"streaming objects neither covered nor called from a covered " +
        s"pipeline: $unreached")
  }
}
