package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // two independent ~uniform columns derived from hashes of the id — the
  // shape where 1-D sorting can only skip on one dimension
  private def data = spark.range(10000)
    .select(col("id"),
      pmod(xxhash64(col("id")), lit(1000)).as("x"),
      pmod(xxhash64(col("id"), lit(1)), lit(1000)).as("y"))

  test("weightedQuantiles: ±0.0 split across groups match the flat sort " +
      "bit for bit") {
    val groups = IndexedSeq(
      (Array(0.0, 1.0, 0.0), 1.0),
      (Array(-0.0, 2.0, Double.NaN), 2.0),
      (Array(-0.0, 0.0), 0.5))
    val qs = Seq(0.1, 0.25, 0.4, 0.5, 0.75, 0.9)
    // reference: sort the flat (value, weight) pairs in Double's total
    // order (stable, so ties keep group order) and walk cumulative weight
    val flat = groups.flatMap { case (vs, w) => vs.toSeq.map(v => (v, w)) }
      .sortBy(_._1)(Ordering.Double.TotalOrdering)
    val total = flat.map(_._2).sum
    val cum = flat.map(_._2).scanLeft(0.0)(_ + _).tail
    val want = qs.map { q =>
      val i = cum.indexWhere(_ >= q * total)
      if (i < 0) flat.last._1 else flat(i)._1
    }
    val got = Layout.weightedQuantiles(groups, qs)
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(got) == bits(want), s"got $got, want $want")
    assert(bits(want).contains(java.lang.Double.doubleToRawLongBits(-0.0)))
  }

  test("zorderWrite round-trips the rows and drops the z column") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    Layout.zorderWrite(data, Seq("x", "y"), s"$dir/z", nFiles = 16)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.columns.sorted.toSeq == Seq("id", "x", "y"))
    assert(back.count() == 10000)
    assert(back.select(sum(col("id"))).head.getLong(0) ==
      data.select(sum(col("id"))).head.getLong(0))
  }

  test("manifest has one row per file with correct global min/max") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    Layout.zorderWrite(data, Seq("x", "y"), s"$dir/z", nFiles = 16)
    val m = Layout.buildManifest(spark, s"$dir/z", Seq("x", "y")).collect()
    assert(m.length > 1 && m.length <= 16)
    assert(m.map(_.getAs[Long]("rows")).sum == 10000L)
    assert(m.map(_.getAs[Long]("min_x")).min == 0L)
    assert(m.map(_.getAs[Long]("max_x")).max == 999L)
  }

  test("footer-stats manifest is row- and type-identical to the scan build") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    // long + double stats columns — the numeric shapes the footer path serves
    val d = data.withColumn("p", col("x").cast("double") / 10.0)
    Layout.zorderWrite(d, Seq("x", "p"), s"$dir/z", nFiles = 8)
    val footer = Layout.footerManifestFor(spark, Seq(s"$dir/z"), Seq("x", "p"))
    assert(footer.nonEmpty, "footer path should serve plain numeric columns")
    val scan = spark.read.parquet(s"$dir/z")
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("p")).as("min_p"), max(col("p")).as("max_p"))
    assert(footer.get.schema == scan.schema,
      s"schemas differ:\n${footer.get.schema}\n${scan.schema}")
    val f = footer.get.collect().map(_.toSeq).sortBy(_.head.toString)
    val sc = scan.collect().map(_.toSeq).sortBy(_.head.toString)
    assert(f.toSeq == sc.toSeq)
    // scheme-less explicit file paths (the moveStagedIn form) must emit the
    // SAME canonical "file:/…" strings _metadata.file_path produces — a
    // pass-through would silently break every sidecar/DV join on `file`
    val rawFiles = f.map(_.head.toString.stripPrefix("file:"))
    val fromRaw = Layout.footerManifestFor(spark, rawFiles.toSeq, Seq("x", "p"))
    assert(fromRaw.nonEmpty)
    assert(fromRaw.get.select("file").collect().map(_.getString(0)).sorted.toSeq ==
      f.map(_.head.toString).sorted.toSeq)
    // a string column can't be served from footers here — the public build
    // falls back to the scan transparently
    val d2 = data.withColumn("s", concat(lit("v"), col("x")))
    d2.write.mode("overwrite").parquet(s"$dir/z2")
    assert(Layout.footerManifestFor(spark, Seq(s"$dir/z2"), Seq("x", "s")).isEmpty)
    val m2 = Layout.buildManifestFor(spark, Seq(s"$dir/z2"), Seq("x", "s"))
    assert(m2.columns.contains("min_s") &&
      m2.agg(sum(col("rows"))).head.getLong(0) == 10000L)
  }

  test("footer path punts on nested dirs and NaN float stats") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    // hive-partitioned output: data lives in subdirectories — the footer
    // path must fall back (None), not build a silently top-level-only
    // manifest that pruned reads would trust
    data.withColumn("part", pmod(col("x"), lit(2)))
      .write.partitionBy("part").parquet(s"$dir/hp")
    assert(Layout.footerManifestFor(spark, Seq(s"$dir/hp"), Seq("x")).isEmpty)
    // a NaN in a double column's stats punts too (parquet NaN-ordering
    // semantics can diverge from the Spark scan build)
    data.withColumn("p",
        when(col("id") === 7, lit(Double.NaN)).otherwise(col("x") / 10.0))
      .write.parquet(s"$dir/nan")
    assert(Layout.footerManifestFor(spark, Seq(s"$dir/nan"), Seq("p")).isEmpty)
    // ...but the public build still serves both via the scan fallback
    val m = Layout.buildManifestFor(spark, Seq(s"$dir/nan"), Seq("p"))
    assert(m.agg(sum(col("rows"))).head.getLong(0) == 10000L)
  }

  test("pruned read equals the full filter; empty box yields empty frame") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    Layout.zorderWrite(data, Seq("x", "y"), s"$dir/z", nFiles = 16)
    val m = Layout.buildManifest(spark, s"$dir/z", Seq("x", "y"))
    val pr = Layout.prunedRead(spark, s"$dir/z", m,
      Seq(("x", 100.0, 199.0), ("y", 300.0, 399.0)))
    val expected = data.filter(col("x").between(100, 199) &&
      col("y").between(300, 399)).select("id").collect().map(_.getLong(0)).toSet
    assert(pr.df.select("id").collect().map(_.getLong(0)).toSet == expected)
    val empty = Layout.prunedRead(spark, s"$dir/z", m,
      Seq(("x", 5000.0, 6000.0), ("y", 0.0, 999.0)))
    assert(empty.filesRead == 0 && empty.df.count() == 0)
  }

  test("appendWithManifest extends the manifest without rescanning the base") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    val base = data.filter(col("id") % 2 === 0)
    val batch = data.filter(col("id") % 2 === 1)
    Layout.zorderWrite(base, Seq("x", "y"), s"$dir/z", nFiles = 8)
    Layout.buildManifest(spark, s"$dir/z", Seq("x", "y"))
      .write.mode("overwrite").parquet(s"$dir/m")
    val before = spark.read.parquet(s"$dir/m").count()
    val appended = Layout.appendWithManifest(spark, batch, Seq("x", "y"),
      s"$dir/z", s"$dir/m", nFiles = 8)
    assert(appended > 0)
    val m = spark.read.parquet(s"$dir/m")
    assert(m.count() == before + appended)
    // the combined layout round-trips and the manifest covers every row
    assert(spark.read.parquet(s"$dir/z").count() == 10000)
    assert(m.agg(sum(col("rows"))).head.getLong(0) == 10000L)
    // a pruned read over the appended layout is complete AND still prunes
    val box = Seq(("x", 100.0, 199.0), ("y", 300.0, 399.0))
    val pr = Layout.prunedRead(spark, s"$dir/z", m, box)
    val expected = data.filter(col("x").between(100, 199) &&
      col("y").between(300, 399)).select("id").collect().map(_.getLong(0)).toSet
    assert(pr.df.select("id").collect().map(_.getLong(0)).toSet == expected)
    assert(pr.filesRead * 2 <= pr.filesTotal,
      s"pruning too weak after append: ${pr.filesRead}/${pr.filesTotal}")
  }

  test("deleteWhere rewrites only intersecting files and keeps the rest intact") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    Layout.zorderWrite(data, Seq("x", "y"), s"$dir/z", nFiles = 32)
    Layout.buildManifest(spark, s"$dir/z", Seq("x", "y"))
      .write.mode("overwrite").parquet(s"$dir/m")
    val res = Layout.deleteWhere(spark, s"$dir/z", s"$dir/m", Seq("x", "y"),
      Seq(("x", 100.0, 199.0), ("y", 300.0, 399.0)))
    val expectedDeleted = data.filter(col("x").between(100, 199) &&
      col("y").between(300, 399)).count()
    assert(res.rowsDeleted == expectedDeleted && expectedDeleted > 0)
    assert(res.filesRewritten > 0 && res.filesRewritten * 2 <= res.filesTotal,
      s"not targeted: ${res.filesRewritten}/${res.filesTotal}")
    // survivors: exactly the complement, no collateral loss
    val surviving = spark.read.parquet(s"$dir/z").select("id")
      .collect().map(_.getLong(0)).toSet
    val expected = data.filter(!(col("x").between(100, 199) &&
      col("y").between(300, 399))).select("id").collect().map(_.getLong(0)).toSet
    assert(surviving == expected)
    // the swapped manifest matches the surviving files exactly: row counts
    // add up and a pruned read over the deleted box finds nothing
    val m = spark.read.parquet(s"$dir/m")
    assert(m.agg(sum(col("rows"))).head.getLong(0) == expected.size.toLong)
    val pr = Layout.prunedRead(spark, s"$dir/z", m,
      Seq(("x", 100.0, 199.0), ("y", 300.0, 399.0)))
    assert(pr.df.count() == 0)
  }

  test("z-order prunes a 2-D box harder than a 1-D sorted layout") {
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    Layout.zorderWrite(data, Seq("x", "y"), s"$dir/z", nFiles = 64)
    // the 1-D contender: range-partitioned + sorted on x only
    data.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$dir/lin")
    val box = Seq(("x", 100.0, 199.0), ("y", 300.0, 399.0)) // ~10% per dim
    val z = Layout.prunedRead(spark, s"$dir/z",
      Layout.buildManifest(spark, s"$dir/z", Seq("x", "y")), box)
    val lin = Layout.prunedRead(spark, s"$dir/lin",
      Layout.buildManifest(spark, s"$dir/lin", Seq("x", "y")), box)
    // same answer either way — layout changes cost, never content
    assert(z.df.count() == lin.df.count())
    assert(z.filesRead < lin.filesRead,
      s"z-order read ${z.filesRead} files, 1-D sorted read ${lin.filesRead}")
    assert(z.filesRead * 2 <= z.filesTotal,
      s"z pruning too weak: ${z.filesRead}/${z.filesTotal}")
  }
}
