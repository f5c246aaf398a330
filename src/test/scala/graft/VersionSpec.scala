package graft

import graft.engine.{Catalog, Checksum}

/** Versioned tables: the reproducibility contract — committed versions
  * are immutable and individually addressable, the pointer flip is the
  * only commit (its crash points are enumerated by CrashPointSpec).
  */
class VersionSpec extends SparkTestBase {
  import spark.implicits._

  private def freshCat(name: String): Catalog =
    new Catalog(spark, graft.queries.Scratch.fresh(spark, name))

  private val cols = Seq("k" -> Checksum.IntLike, "s" -> Checksum.Str)

  test("each save commits a new version; old versions stay bit-stable") {
    val cat = freshCat("ver_a")
    val v1 = cat.saveVersioned("corpus", Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val sum1 = Checksum.of(cat.tableAt("corpus", v1), cols).head()
    val v2 = cat.saveVersioned("corpus",
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "s"))
    assert(v1 == 1 && v2 == 2 && cat.latestVersion("corpus").contains(2))
    assert(cat.tableLatest("corpus").count() == 3)
    // the pinned old version is untouched by the new save
    val again = Checksum.of(cat.tableAt("corpus", v1), cols).head()
    assert(again.getLong(0) == sum1.getLong(0))
    assert(again.getDouble(1) == sum1.getDouble(1))
  }

  test("versions() lists committed versions only — orphans and vacuumed excluded") {
    val cat = freshCat("ver_d")
    assert(cat.versions("corpus").isEmpty)
    (1 to 3).foreach(i =>
      cat.saveVersioned("corpus", Seq((i.toLong, s"v$i")).toDF("k", "s")))
    assert(cat.versions("corpus") == Seq(1, 2, 3))
    // an orphan above the pointer (crashed save) is NOT listed: it was
    // never committed
    Seq((9L, "x")).toDF("k", "s").write
      .parquet(s"${cat.warehouse}/corpus/_v=4")
    assert(cat.versions("corpus") == Seq(1, 2, 3))
    // retention: vacuum trims the listing in step with what's readable
    cat.vacuumVersions("corpus", keep = 2)
    assert(cat.versions("corpus") == Seq(2, 3))
    cat.versions("corpus").foreach(v =>
      assert(cat.tableAt("corpus", v).count() == 1))
  }

  test("vacuum keeps the newest K versions and clears orphans") {
    val cat = freshCat("ver_c")
    (1 to 4).foreach(i =>
      cat.saveVersioned("corpus", Seq((i.toLong, s"v$i")).toDF("k", "s")))
    cat.vacuumVersions("corpus", keep = 2)
    def dirs(): Set[String] =
      Option(new java.io.File(s"${cat.warehouse}/corpus").listFiles())
        .toSeq.flatten.filter(_.getName.startsWith("_v=")).map(_.getName).toSet
    assert(dirs() == Set("_v=3", "_v=4"))
    assert(cat.tableLatest("corpus").count() == 1)
    intercept[Exception](cat.tableAt("corpus", 1).count())
  }
}
