package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StagedSpec extends SparkSpec {
  import spark.implicits._

  test("getOrBuild builds once per key, serves later requests from " +
      "parquet, and distinct keys build independently") {
    var builds = 0
    def frame = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("k", "v") }
    val r1 = Staged.getOrBuild(spark, "staged-spec/one")(frame)
    val r2 = Staged.getOrBuild(spark, "staged-spec/one")(frame)
    assert(builds === 1, "second request must NOT rebuild")
    assert(r2.orderBy($"k").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    assert(r1.orderBy($"k").collect() === r2.orderBy($"k").collect())
    Staged.getOrBuild(spark, "staged-spec/two")(frame)
    assert(builds === 2, "a distinct key is a distinct artifact")
  }

  test("keys that sanitize identically still get distinct artifacts " +
      "(raw-key hash suffix)") {
    var builds = 0
    def f(n: Long) = { builds += 1; spark.range(n).select($"id") }
    val a = Staged.getOrBuild(spark, "collide::key")(f(3))
    val b = Staged.getOrBuild(spark, "collide__key")(f(7))
    assert(builds === 2)
    assert(a.count() === 3L)
    assert(b.count() === 7L)
  }

  test("staged artifacts survive Scratch.sweep — the per-query " +
      "cleanup Verify/Bench run between queries") {
    var builds = 0
    def frame = { builds += 1; spark.range(5).select($"id") }
    Staged.getOrBuild(spark, "staged-spec/sweep")(frame)
    graft.Scratch.sweep()
    val back = Staged.getOrBuild(spark, "staged-spec/sweep")(frame)
    assert(builds === 1,
      "Scratch.sweep must not evict cross-query staged artifacts")
    assert(back.count() === 5L)
  }

  test("getOrBuildPath builds path-shaped artifacts once and returns " +
      "a stable path") {
    var builds = 0
    val p1 = Staged.getOrBuildPath("staged-spec/pathy") { p =>
      builds += 1
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(p, "sub"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "sub", "x.txt"), "payload")
    }
    val p2 = Staged.getOrBuildPath("staged-spec/pathy") { _ =>
      builds += 1
    }
    assert(builds === 1)
    assert(p1 === p2)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(p1, "sub", "x.txt")) === "payload")
  }

  test("a failed build leaves nothing behind and the retry starts " +
      "clean (atomic tmp-dir build)") {
    var attempts = 0
    intercept[RuntimeException] {
      Staged.getOrBuildPath("staged-spec/flaky") { p =>
        attempts += 1
        // simulate a builder that wrote a partial sidecar, then died
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p, "partial.txt"), "half")
        throw new RuntimeException("builder died")
      }
    }
    val path = Staged.getOrBuildPath("staged-spec/flaky") { p =>
      attempts += 1
      // the retry must see an EMPTY dir: a leftover partial.txt from
      // attempt 1 would corrupt an appending builder
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(p, "partial.txt")),
        "retry saw the failed attempt's partial artifact")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p, "ok.txt"), "whole")
    }
    assert(attempts === 2)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, "ok.txt")) === "whole")
    // same law for the DataFrame shape
    var dfBuilds = 0
    intercept[RuntimeException] {
      Staged.getOrBuild(spark, "staged-spec/flaky-df") {
        dfBuilds += 1; throw new RuntimeException("builder died")
      }
    }
    val back = Staged.getOrBuild(spark, "staged-spec/flaky-df") {
      dfBuilds += 1; spark.range(4).select($"id")
    }
    assert(dfBuilds === 2)
    assert(back.count() === 4L)
  }

  test("a dir that lost its success marker is rebuilt in place") {
    try {
      Staged.clear()
      var builds = 0
      def get = Staged.getOrBuild(spark, "markerless/key") {
        builds += 1; spark.range(3).select($"id")
      }
      val firstDir = get.inputFiles.head
        .replaceFirst("/[^/]*$", "").replaceFirst("^file:", "")
      // externally damage the artifact: drop its marker
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(firstDir, "_SUCCESS"))
      val second = get
      assert(builds === 2, "a marker-less dir must rebuild")
      val secondDir = second.inputFiles.head
        .replaceFirst("/[^/]*$", "").replaceFirst("^file:", "")
      assert(secondDir === firstDir, "the rebuild replaces the key's dir")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(secondDir, "_SUCCESS")))
      assert(second.count() === 3L)
      get
      assert(builds === 2, "the rebuilt artifact is served again")
    } finally Staged.clear()
  }
}
