package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional clustered layout + file-statistics pruning — the
  * data-skipping story for selective scans over plain parquet.
  *
  * A sorted layout ([[Maintenance]]) skips on ONE column; a 100 TB fact
  * table is filtered on several (customer AND price band, date AND region).
  * Z-ORDERING interleaves the bits of per-column quantile-bucket ids into a
  * single Morton code and lays the table out in that order: each output
  * file then covers a small hyper-rectangle of the value space, so its
  * min/max footer stats are tight on EVERY clustered column at once and a
  * conjunctive range predicate can exclude most files on statistics alone.
  *
  * The skipping side is an explicit FILE-STATS MANIFEST (one row per file:
  * min/max per clustered column, built with one column-pruned aggregate) —
  * the poor-man's Delta/Iceberg stats catalog. Pruning intersects the
  * predicate's ranges with the manifest and plans a scan over ONLY the
  * surviving files. Driver-side work is bounded by FILE COUNT (the same
  * listing any planner pays), never row count.
  *
  * Scale shape: the layout write is two passes (quantile sketch + range
  * shuffle) amortized over every subsequent read; the manifest build is one
  * column-pruned scan per layout run; a pruned read opens the fraction of
  * files the predicate's z-box covers (measured in LayoutSpec: a ~5 %
  * 2-D box over a 64-file z-layout reads ≥ 4× fewer files than a 1-D
  * sorted layout of the same data).
  */
object Layout {

  /** Buckets per clustered dimension (4 bits — 16 quantile buckets per
    * column, 256 z-cells for two columns): granular enough that a file
    * covers few cells, coarse enough that bucket ids broadcast as plain
    * literals inside one codegen'd projection. */
  val Buckets = 16
  private val Bits = 4

  /** Numeric SURROGATE of a clustering column — the one projection both
    * the planning sample and the executed bucket ids go through, so the
    * two can never disagree. Numerics/timestamps cast; STRINGS map to
    * their first 7 bytes as a big-endian integer (monotone in byte
    * order, exact in a double at < 2⁵⁶ — so string range clustering is
    * real, not hash scatter); dates to their day number; anything else
    * to a hash (same-value locality only). Layout NEVER affects
    * correctness — manifest stats are computed from the written files
    * independently — so a coarse surrogate only loosens pruning. */
  private def zNum(c: Column, dt: org.apache.spark.sql.types.DataType)
      : Column = dt match {
    case _: org.apache.spark.sql.types.NumericType => c.cast("double")
    case org.apache.spark.sql.types.StringType =>
      conv(rpad(substring(hex(encode(c, "UTF-8")), 1, 14), 14, "0"),
        16, 10).cast("double")
    case org.apache.spark.sql.types.DateType =>
      datediff(c, to_date(lit("1970-01-01"))).cast("double")
    case org.apache.spark.sql.types.BooleanType =>
      when(c, 1.0).otherwise(0.0)
    case _: org.apache.spark.sql.types.TimestampType => c.cast("double")
    case _ => xxhash64(c).cast("double")
  }

  /** Monotone quantile-bucket id of `c` given driver-computed boundaries:
    * the count of boundaries strictly below the value — a fold of `when`s,
    * whole-stage-codegen friendly (no UDF, no higher-order array calls in
    * the hot projection). Null values land in bucket 0. */
  private def bucketExpr(c: Column, bounds: Seq[Double]): Column =
    bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(c > lit(b), 1).otherwise(0)
    }

  /** Sum `terms` as a BALANCED expression tree (depth log₂ n) instead of
    * a left-deep fold (depth n): the file-router expressions below carry
    * one term per output file, and a left-deep Column tree overflows the
    * Column→Expression converter's stack past a few hundred files — a
    * 10k-file write at real scale would be 10k frames deep. Same adds,
    * same codegen, logarithmic depth. */
  private def balancedSum(terms: IndexedSeq[Column]): Column =
    if (terms.length == 1) terms(0)
    else balancedSum(terms.grouped(2).map(_.reduce(_ + _)).toIndexedSeq)

  /** Interleave the low [[Bits]] bits of the per-column bucket ids into a
    * Morton z-code (column 0 takes the higher bit of each pair). */
  private def zExpr(buckets: Seq[Column]): Column = {
    val d = buckets.size
    val terms = for {
      (b, j) <- buckets.zipWithIndex
      i <- 0 until Bits
    } yield shiftleft(
      shiftright(b, i).bitwiseAND(lit(1)).cast("long"),
      i * d + (d - 1 - j))
    terms.reduce(_ + _) // disjoint bit positions: sum == bitwise OR
  }

  /** Per-column quantile boundaries for the z-bucketing — an approximate
    * sketch pass (`approxQuantile`, driver gets `Buckets−1` doubles per
    * column, never data). Quantile (not uniform min/max) bucketing keeps
    * cells equal-POPULATION under skew, so files stay equal-sized. */
  def quantileBounds(df: DataFrame, cols: Seq[String]): Map[String, Seq[Double]] = {
    // the multi-column overload sketches every clustered column in ONE
    // scan (per-column calls would each re-read the input — at a z-width
    // of d that's d-1 avoidable passes over the table)
    val all = df.stat.approxQuantile(cols.toArray,
      (1 until Buckets).map(_.toDouble / Buckets).toArray, 0.001)
    cols.zip(all.map(_.toSeq.distinct)).toMap
  }

  /** The z-value column for `cols` under `bounds` — exposed for specs and
    * for planning the same code on a streaming writer. `df` supplies the
    * column types for the surrogate projection. */
  def zValue(df: DataFrame, cols: Seq[String],
             bounds: Map[String, Seq[Double]]): Column =
    zExpr(cols.map(c =>
      bucketExpr(zNum(col(c), df.schema(c).dataType), bounds(c))))

  /** Write `df` z-ordered by `cols` into `nFiles` range-partitioned files:
    * one column-pruned PLANNING pass (a weighted reservoir sample yields
    * both the per-column quantile bounds and the z range boundaries) →
    * Morton code projection → ONE full-width shuffle on an explicit
    * partition id → in-partition sort → write (the z column itself is
    * dropped; order survives the projection).
    *
    * Two data passes total, and only the second reads every column. The
    * naive composition costs three: an `approxQuantile` sketch scan, then
    * `repartitionByRange`'s own range-sampling scan (RangePartitioner
    * iterates the full projected input again), then the shuffle — at
    * 100 TB those are two avoidable full-table reads per OPTIMIZE ZORDER.
    * The explicit id avoids the range sampler: the planning sample already
    * fixes the z boundaries, each row's target partition is a codegen'd
    * when-chain over them, and [[partitionTokens]] turns the id into a
    * value Spark's hash partitioner provably routes to that partition. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  nFiles: Int): Unit =
    stageZordered(df, cols, nFiles).write.mode("overwrite").parquet(path)

  /** The staged (shuffled + sorted, z/pid columns dropped) frame behind
    * [[zorderWrite]] — exposed so append-mode writers share the exact
    * layout path. */
  private[sinks] def stageZordered(df: DataFrame, cols: Seq[String],
                                   nFiles: Int): DataFrame = {
    val (bounds, zBoundaries) = planZ(df, cols, nFiles)
    val pid =
      if (zBoundaries.isEmpty) lit(0)
      else balancedSum(zBoundaries.toIndexedSeq.map(b =>
        when(col("_z") > lit(b), 1).otherwise(0)))
    val tokens = partitionTokens(df.sparkSession, nFiles)
    df.withColumn("_z", zValue(df, cols, bounds))
      .withColumn("_pt", element_at(typedLit(tokens.toSeq), pid + 1))
      .repartition(nFiles, col("_pt"))
      .sortWithinPartitions("_z")
      .drop("_z", "_pt")
  }

  /** Planning sample size cap — bounds driver memory (≤ cap × d doubles)
    * and is ~500+ samples per boundary at the widest nFiles used here,
    * the same order RangePartitioner itself samples. */
  private val SampleCap = 131072

  /** The shared planning sample: ONE column-pruned pass collecting a
    * per-partition weighted reservoir (weight = partition rows / sample
    * rows) of the surrogate-projected clustering columns. Returned
    * GROUPED by source partition (all samples of one partition share one
    * weight) so quantile planning can sort each group's PRIMITIVE values
    * and merge — the flat boxed-tuple sort this replaces was 100–240 ms
    * of driver CPU per heavy write query in the r19 profile. */
  private def weightedSample(df: DataFrame, cols: Seq[String])
      : Array[(Array[Array[Double]], Double)] = {
    val d = cols.size
    val proj = df.select(cols.map(c =>
      zNum(col(c), df.schema(c).dataType)): _*)
    // queryExecution.toRdd, NOT .rdd: the planning pass only extracts
    // doubles, and .rdd would convert every InternalRow to an external Row
    // object first — a per-row allocation+copy tax over the whole input
    // (guide §1.4's df.rdd caveat). Values and partition order are
    // identical; the reservoir (seeded per partition) draws the same
    // sample either way, so planned boundaries are byte-identical.
    val rdd = proj.queryExecution.toRdd
    val nParts = rdd.getNumPartitions.max(1)
    val perPart = math.max(16, SampleCap / nParts)
    val collected = rdd.mapPartitionsWithIndex { (pi, it) =>
      val rng = new java.util.Random(0x5eed + pi.toLong * 7919L)
      val buf = new Array[Array[Double]](perPart)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        val v = Array.tabulate(d)(i =>
          if (r.isNullAt(i)) Double.NaN else r.getDouble(i))
        if (n < perPart) buf(n.toInt) = v
        else {
          val j = java.lang.Math.floorMod(rng.nextLong(), n + 1)
          if (j < perPart) buf(j.toInt) = v
        }
        n += 1
      }
      Iterator.single((buf.take(math.min(n, perPart.toLong).toInt), n))
    }.collect()
    collected.filter(_._2 > 0).map { case (rows, n) =>
      (rows, n.toDouble / rows.length)
    }
  }

  /** SINGLE-KEY RANGE-CLUSTERED write — the two-pass shape of
    * [[zorderWrite]] specialized to one ordering column at FULL
    * boundary resolution (a 1-D z-value quantizes to [[Buckets]] cells,
    * which caps effective output width at 16; range boundaries on the
    * raw surrogate don't). Pass 1 plans nFiles−1 weighted quantile
    * boundaries from the reservoir sample; pass 2 routes rows with a
    * codegen'd when-chain + [[partitionTokens]] repartition and sorts
    * in-partition — NEVER `repartitionByRange`, whose RangePartitioner
    * re-scans the whole projected input to sample its own boundaries (an
    * avoidable full-table pass at 100 TB). Nulls route to partition 0
    * and sort first. */
  def rangeWrite(df: DataFrame, keyCol: String, path: String,
                 nFiles: Int): Unit = {
    val sample = weightedSample(df, Seq(keyCol))
    val sur = zNum(col(keyCol), df.schema(keyCol).dataType)
    val boundaries =
      if (sample.isEmpty) Seq.empty[Double]
      else {
        val vals = sample.iterator.map { case (rows, w) =>
          (rows.iterator.map(_(0)).filterNot(_.isNaN).toArray, w)
        }.toIndexedSeq
        weightedQuantiles(
          if (vals.forall(_._1.isEmpty)) IndexedSeq((Array(0.0), 1.0))
          else vals,
          (1 until nFiles).map(_.toDouble / nFiles)).distinct
      }
    // partition 0 is the DEDICATED null band: a file of key-less rows
    // carries all-null stats and prunes away from any finite range
    // (sharing the lowest value band would poison that band's min/max
    // with nothing and its file with unprunable rows). Empty when the
    // key has no nulls — parquet writes no file for an empty partition.
    val valuePid =
      if (boundaries.isEmpty) lit(1)
      else lit(1) + balancedSum(boundaries.toIndexedSeq.map(b =>
        when(sur > lit(b), 1).otherwise(0)))
    val pid = when(sur.isNull, 0).otherwise(valuePid)
    val tokens = partitionTokens(df.sparkSession, boundaries.size + 2)
    df.withColumn("_pt", element_at(typedLit(tokens.toSeq), pid + 1))
      .repartition(boundaries.size + 2, col("_pt"))
      .sortWithinPartitions(col(keyCol).asc_nulls_first)
      .drop("_pt")
      .write.mode("overwrite").parquet(path)
  }

  /** ONE column-pruned pass planning a z-order write: a per-partition
    * weighted reservoir sample (weight = partition rows / sample rows)
    * from which the driver derives BOTH the per-column quantile-bucket
    * bounds and the z-value range boundaries. Mirrors [[bucketExpr]] /
    * [[zExpr]] bit-for-bit on the driver so planned boundaries and
    * executed z values can never disagree. */
  private[sinks] def planZ(df: DataFrame, cols: Seq[String], nFiles: Int)
      : (Map[String, Seq[Double]], Seq[Long]) = {
    val groups = weightedSample(df, cols)
    if (groups.isEmpty) // empty input: degenerate single-cell layout
      return (cols.map(_ -> Seq.empty[Double]).toMap, Seq.empty)
    val colQs = (1 until Buckets).map(_.toDouble / Buckets)
    val bounds = cols.zipWithIndex.map { case (c, i) =>
      val vals = groups.iterator.map { case (rows, w) =>
        (rows.iterator.map(_(i)).filterNot(_.isNaN).toArray, w)
      }.toIndexedSeq
      c -> (if (vals.forall(_._1.isEmpty)) Seq.empty[Double]
            else weightedQuantiles(vals, colQs).distinct)
    }.toMap
    val zs = groups.iterator.map { case (rows, w) =>
      (rows.map(v =>
        zOf(cols.indices.map(i => bucketOf(v(i), bounds(cols(i))))).toDouble),
        w)
    }.toIndexedSeq
    val zB = weightedQuantiles(zs, (1 until nFiles).map(_.toDouble / nFiles))
      .map(_.toLong)
    (bounds, zB)
  }

  /** Driver-side mirror of [[bucketExpr]]: count of bounds strictly below
    * the value; null (NaN) lands in bucket 0. */
  private def bucketOf(v: Double, bounds: Seq[Double]): Int =
    if (v.isNaN) 0 else bounds.count(v > _)

  /** Driver-side mirror of [[zExpr]]. */
  private def zOf(buckets: Seq[Int]): Long = {
    val d = buckets.size
    var z = 0L
    for ((b, j) <- buckets.zipWithIndex; i <- 0 until Bits)
      z |= ((b >> i) & 1).toLong << (i * d + (d - 1 - j))
    z
  }

  /** Weighted quantiles over per-GROUP samples (each group = one source
    * partition's values + its constant weight): sort each group's
    * primitive values (dual-pivot, no boxing), merge value-ascending with
    * group-stable ties, then walk the cumulative weight emitting the
    * first value reaching each target. Numerically identical to sorting
    * the flat (value, weight) pairs and walking them — same value order,
    * same FP accumulation order — so planned boundaries are bit-identical
    * to the boxed `sortBy` this replaces (which cost 100–240 ms of driver
    * CPU per heavy write in the r19 profile). */
  private[sinks] def weightedQuantiles(
      groups: IndexedSeq[(Array[Double], Double)],
      qs: Seq[Double]): Seq[Double] = {
    val gs = groups.filter(_._1.nonEmpty).map { case (vs, w) =>
      val s = vs.clone(); java.util.Arrays.sort(s); (s, w)
    }
    val n = gs.iterator.map(_._1.length).sum
    val values = new Array[Double](n)
    val weights = new Array[Double](n)
    val pos = new Array[Int](gs.length)
    var out = 0
    while (out < n) {
      var best = -1
      var bestV = Double.NaN
      var gi = 0
      while (gi < gs.length) {
        if (pos(gi) < gs(gi)._1.length) {
          val v = gs(gi)._1(pos(gi))
          // Double.compare, not `<`: the same total order as the sort
          // (-0.0 before 0.0, NaN last), so zeros split across groups
          // merge in flat-sort order
          if (best < 0 || java.lang.Double.compare(v, bestV) < 0) {
            best = gi; bestV = v
          }
        }
        gi += 1
      }
      values(out) = bestV
      weights(out) = gs(best)._2
      pos(best) += 1
      out += 1
    }
    var total = 0.0 // left-to-right in value order, like the flat sum
    var i = 0
    while (i < n) { total += weights(i); i += 1 }
    val targets = qs.map(_ * total)
    val outQ = Array.fill(targets.size)(Double.NaN)
    var cum = 0.0
    var ti = 0
    i = 0
    while (i < n && ti < targets.size) {
      cum += weights(i)
      while (ti < targets.size && cum >= targets(ti)) {
        outQ(ti) = values(i); ti += 1
      }
      i += 1
    }
    while (ti < targets.size) { outQ(ti) = values(n - 1); ti += 1 }
    outQ.toSeq
  }

  /** For each target partition `p` of an `n`-way hash repartition, a small
    * int token that Spark's own hash partitioning routes to `p` — learned
    * EMPIRICALLY with one tiny data-free job (64·n candidate ints through
    * `repartition(n, t)` + `spark_partition_id`), so the mapping is
    * faithful to whatever hash/seed Spark uses, and memoized per n. This
    * is what lets [[stageZordered]] place rows into exact z-range
    * partitions with a plain `repartition` — no range-sampling pass. */
  private val tokenCache =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Int]]
  private[sinks] def partitionTokens(spark: SparkSession,
                                     n: Int): Array[Int] =
    tokenCache.getOrElseUpdate(n, {
      val rows = spark.range(0, n * 64L)
        .select(col("id").cast("int").as("t"))
        .repartition(n, col("t"))
        .select(col("t"), spark_partition_id().as("p"))
        .collect()
      val byP = rows.groupBy(_.getInt(1))
      (0 until n).map { p =>
        byP.getOrElse(p, throw new IllegalStateException(
          s"no candidate token landed in partition $p of $n — " +
            "hash partitioning changed shape")).head.getInt(0)
      }.toArray
    })

  /** Build the file-stats manifest of a layout: one row per data file with
    * min/max of each clustered column — a single column-pruned scan
    * grouped by the `_metadata.file_path` hidden column. At 100 TB this
    * runs once per layout write (or incrementally per appended file via
    * [[appendWithManifest]]) and its size is file-count-bounded. */
  def buildManifest(spark: SparkSession, path: String,
                    cols: Seq[String]): DataFrame =
    buildManifestFor(spark, Seq(path), cols)

  /** [[buildManifest]] over an explicit path/file list — the incremental
    * form touches ONLY the named files, and when every stats column is a
    * plain numeric it never reads DATA at all: parquet FOOTERS already
    * carry per-row-group min/max and row counts, so the manifest is a
    * metadata-only read (KBs per file), the way production table formats
    * collect stats. Falls back to the one-pass column-pruned scan whenever
    * footer stats can't serve a column (non-numeric, annotated logical
    * type, absent stats) — verdicts are identical either way, and the
    * footer path's `file` strings use the same canonical `file:/...` form
    * `_metadata.file_path` produces, so sidecar/bloom joins keyed on the
    * manifest cannot alias. */
  def buildManifestFor(spark: SparkSession, paths: Seq[String],
                       cols: Seq[String]): DataFrame =
    footerManifestFor(spark, paths, cols).getOrElse(
      spark.read.parquet(paths: _*)
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(count(lit(1)).as("rows"),
          cols.flatMap(c =>
            Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*))

  /** The footer fast path behind [[buildManifestFor]]: expand dirs to data
    * files, open each parquet footer (driver-side, file-count-bounded like
    * every manifest operation here — a 100 TB deployment would fan the
    * footer reads out over a tiny executors job and collect only the stat
    * rows), and fold min/max/rowcount across row groups. None ⇒ caller
    * falls back to the scan build. Only unannotated INT32/INT64/FLOAT/
    * DOUBLE columns are served — exactly the types the scan build would
    * aggregate to the same Spark types, so manifests from the two paths
    * mix freely in delta-log folds. */
  private[sinks] def footerManifestFor(spark: SparkSession, paths: Seq[String],
                                       cols: Seq[String]): Option[DataFrame] = try {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.spark.sql.types._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = paths.flatMap { p0 =>
      val p = new Path(p0)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (st.isDirectory) {
        val listing = fs.listStatus(p).toSeq
          .filter(s => !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
        // a nested layout (e.g. hive-partitioned output) must take the
        // recursive scan build — a flat listStatus would silently build a
        // manifest over only the top-level files, and a pruned read keyed
        // on it could skip files holding matching rows
        if (listing.exists(_.isDirectory)) return None
        listing.filter(_.isFile).map(_.getPath)
      }
      // makeQualified, NOT the caller's form: a scheme-less input ("/tmp/…")
      // must still emit the canonical "file:/…" string `_metadata.file_path`
      // produces, or sidecar/DV joins keyed on the manifest silently miss
      // (the scan build normalized through _metadata; this path must too)
      else Seq(fs.makeQualified(p))
    }
    if (files.isEmpty) return None
    var sparkTypes: Map[String, DataType] = Map.empty
    val rows = files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        val footer = reader.getFooter
        val msgType = footer.getFileMetaData.getSchema
        import scala.jdk.CollectionConverters._
        val blocks = footer.getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        val stats = cols.map { c =>
          val prim = msgType.getType(Seq(c): _*).asPrimitiveType()
          if (prim.getLogicalTypeAnnotation != null) return None
          val tpe: DataType = prim.getPrimitiveTypeName match {
            case INT64 => LongType
            case INT32 => IntegerType
            case DOUBLE => DoubleType
            case FLOAT => FloatType
            case _ => return None
          }
          sparkTypes.get(c) match {
            case Some(t) if t != tpe => return None // mixed schemas: punt
            case None => sparkTypes += c -> tpe
            case _ => ()
          }
          val chunkStats = blocks.map { b =>
            val chunk = b.getColumns.asScala
              .find(_.getPath.toDotString == c).getOrElse(return None)
            val s = chunk.getStatistics
            if (s == null || s.isEmpty || !s.hasNonNullValue) return None
            // parquet float/double stats have NaN-ordering caveats the
            // Spark scan path does not share — any NaN bound punts to the
            // scan build rather than serving possibly-divergent intervals
            def nan(v: Any): Boolean = v match {
              case d: java.lang.Double => d.isNaN
              case f2: java.lang.Float => f2.isNaN
              case _ => false
            }
            if (nan(s.genericGetMin) || nan(s.genericGetMax)) return None
            (s.genericGetMin.asInstanceOf[Comparable[Any]],
              s.genericGetMax.asInstanceOf[Comparable[Any]])
          }
          (chunkStats.map(_._1).min((a: Comparable[Any], b: Comparable[Any]) =>
            a.compareTo(b)),
            chunkStats.map(_._2).max((a: Comparable[Any], b: Comparable[Any]) =>
              a.compareTo(b)))
        }
        org.apache.spark.sql.Row.fromSeq(
          f.toString +: nRows +: stats.flatMap(s => Seq(s._1, s._2)))
      } finally reader.close()
    }
    val schema = StructType(
      StructField("file", StringType, nullable = false) +:
        StructField("rows", LongType, nullable = false) +:
        cols.flatMap(c => Seq(
          StructField(s"min_$c", sparkTypes(c)),
          StructField(s"max_$c", sparkTypes(c)))))
    import scala.jdk.CollectionConverters._
    Some(spark.createDataFrame(rows.asJava, schema))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The subset of `files` whose parquet footers PROVE zero nulls in every
    * one of `cols` — the missing half of a whole-file delete proof: manifest
    * [min,max] stats bound only the NON-null values, and a row where the
    * predicate evaluates to null must survive a DELETE (three-valued
    * logic), so a file may be dropped without being read only when the
    * footers attest the predicate columns carry no nulls at all. Driver-
    * side and file-count-bounded like every footer operation here; any
    * file whose null counts are absent/unset simply isn't returned — the
    * caller falls back to the rewrite path, so this proof is pure
    * optimization, never load-bearing for correctness. */
  private[graft] def nullFreeFiles(spark: SparkSession, files: Seq[String],
                                   cols: Seq[String]): Set[String] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    files.filter { f =>
      try {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f), conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          cols.forall { c =>
            blocks.forall { b =>
              b.getColumns.asScala.find(_.getPath.toDotString == c) match {
                case Some(chunk) =>
                  val s = chunk.getStatistics
                  s != null && !s.isEmpty && s.isNumNullsSet && s.getNumNulls == 0L
                case None => false
              }
            }
          }
        } finally reader.close()
      } catch { case scala.util.control.NonFatal(_) => false }
    }.toSet
  }

  /** Daily-cadence layout maintenance: z-order `batch` by its OWN quantile
    * bounds, APPEND it to an existing layout, and extend the manifest with
    * the stats of only the newly written files — the existing data is
    * never rewritten and never rescanned (the manifest itself is the
    * record of known files; new files are the FS listing minus it, a
    * driver-side file-count-bounded diff, compared by unique part-file
    * name so URI scheme differences can't alias). Per-batch z-ordering
    * keeps each day's files tight on the clustered columns — the global
    * interleave degrades only if the batch's value range drifts, in which
    * case a periodic [[zorderWrite]] re-layout (the compaction analogue)
    * restores it. Returns the number of appended files. */
  def appendWithManifest(spark: SparkSession, batch: DataFrame,
                         cols: Seq[String], path: String,
                         manifestPath: String, nFiles: Int): Int = {
    stageZordered(batch, cols, nFiles).write.mode("append").parquet(path)
    val known = spark.read.parquet(manifestPath).select(col("file"))
      .collect().map(r => fileName(r.getString(0))).toSet
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") &&
        !known.contains(s.getPath.getName))
      .map(_.getPath.toString)
    if (fresh.nonEmpty)
      buildManifestFor(spark, fresh, cols)
        .write.mode("append").parquet(manifestPath)
    fresh.size
  }

  private[sinks] def fileName(uri: String): String =
    uri.substring(uri.lastIndexOf('/') + 1)

  /** Manifest-side predicate: file stats box intersects the query box. */
  private[sinks] def intersectsExpr(box: Seq[(String, Double, Double)]): Column =
    box.map { case (c, lo, hi) =>
      col(s"min_$c").cast("double") <= lit(hi) &&
        col(s"max_$c").cast("double") >= lit(lo)
    }.reduce(_ && _)

  /** Row-side predicate: the row is inside the conjunctive box. */
  private[sinks] def inBoxExpr(box: Seq[(String, Double, Double)]): Column =
    box.map { case (c, lo, hi) =>
      col(c).cast("double").between(lit(lo), lit(hi))
    }.reduce(_ && _)

  /** Outcome of a [[deleteWhere]]: how targeted the rewrite was.
    * `filesDropped` counts files removed METADATA-ONLY — stats + footer
    * null counts proved every row matched, so the file left the manifest
    * without ever being read (the retention-delete fast path). */
  final case class DeleteResult(filesRewritten: Long, filesTotal: Long,
                                rowsDeleted: Long, filesDropped: Long = 0L)

  /** TARGETED delete (the retention/right-to-erasure shape): remove every
    * row inside the conjunctive `(col, lo, hi)` box by rewriting ONLY the
    * files whose manifest stats intersect it — on a z-ordered layout the
    * targets are clustered into few files, so a delete touches a small
    * fraction of the table instead of rewriting it (measured in-query by
    * q109's gate).
    *
    * Commit order makes the MANIFEST the source of truth (the table-format
    * metadata model): (1) survivors of the hit files are staged and moved
    * in as new data files; (2) the manifest is atomically swapped to
    * reference unaffected + new files; (3) only then are the hit files
    * deleted. A crash before (2) leaves orphan new files no manifest row
    * references (invisible to manifest-driven reads, GC'able); a crash
    * between (2) and (3) leaves dead hit files the new manifest no longer
    * references. Manifest-pruned readers ([[prunedRead]]) therefore see
    * either the complete pre-delete or the complete post-delete table,
    * never a half-deleted one. */
  def deleteWhere(spark: SparkSession, path: String, manifestPath: String,
                  cols: Seq[String],
                  box: Seq[(String, Double, Double)]): DeleteResult = {
    val manifest = spark.read.parquet(manifestPath).localCheckpoint()
    val total = manifest.count()
    val hit = manifest.filter(intersectsExpr(box)).select(col("file"))
      .collect().map(_.getString(0)).toSeq
    if (hit.isEmpty) return DeleteResult(0, total, 0)
    // (1) land the hit files' survivors as new data files
    val hitRows = spark.read.parquet(hit: _*)
    val deleted = hitRows.filter(inBoxExpr(box)).count()
    val moved = Snapshots.land(spark, path, gatedBy = None)(
      hitRows.filter(!inBoxExpr(box)).write.parquet(_))
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (2) atomic manifest swap: unaffected rows + the new files' stats
    val keep = manifest.filter(!col("file").isInCollection(hit))
    val next =
      if (moved.isEmpty) keep
      else keep.unionByName(buildManifestFor(spark, moved, cols),
        allowMissingColumns = true)
    val nextPath = new org.apache.hadoop.fs.Path(manifestPath + ".next")
    next.coalesce(1).write.mode("overwrite").parquet(nextPath.toString)
    val mPath = new org.apache.hadoop.fs.Path(manifestPath)
    fs.delete(mPath, true)
    require(fs.rename(nextPath, mPath), s"manifest swap failed: $manifestPath")
    // (3) drop the superseded files
    hit.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
    DeleteResult(hit.size.toLong, total, deleted)
  }

  /** A statistics-pruned scan plus its pruning evidence. */
  final case class PrunedScan(df: DataFrame, filesRead: Long, filesTotal: Long)

  /** Plan a scan over ONLY the files whose [min,max] box intersects every
    * `(col, lo, hi)` range — file-level skipping on plain parquet, driven
    * by the manifest instead of a table format's stats catalog. The
    * collected file list is bounded by FILE COUNT (driver-side planning
    * work, like any catalog's file index); the returned frame still
    * carries the ranges as a residual filter, so correctness never depends
    * on the stats (files are a superset of the answer by construction —
    * stats can only over-include). */
  def prunedRead(spark: SparkSession, path: String, manifest: DataFrame,
                 ranges: Seq[(String, Double, Double)]): PrunedScan = {
    val total = manifest.count()
    val files = manifest.filter(intersectsExpr(ranges)).select(col("file"))
      .collect().map(_.getString(0)).toSeq
    val residual = inBoxExpr(ranges)
    // an empty intersection is a legitimate answer: filter(false) over the
    // base path folds to an empty LocalRelation (schema kept, no scan)
    val df =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files: _*).filter(residual)
    PrunedScan(df, files.size.toLong, total)
  }

  /** STRING-column twins of the stats predicates: categorical/lexical
    * predicates prune on the manifest's native string min/max — the
    * scan-built stats path already collects them (`min`/`max` are lexical
    * on strings; the footer fast path declines non-numerics and falls
    * back to exactly that scan build). Ranges are inclusive lexical
    * bounds, so a point lookup on a categorical column is `(v, v)`. */
  private[sinks] def intersectsStrExpr(box: Seq[(String, String, String)]): Column =
    box.map { case (c, lo, hi) =>
      col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo)
    }.reduce(_ && _)

  private[sinks] def inBoxStrExpr(box: Seq[(String, String, String)]): Column =
    box.map { case (c, lo, hi) => col(c).between(lit(lo), lit(hi)) }
      .reduce(_ && _)

  /** [[prunedRead]] over lexical string ranges. */
  def prunedReadStr(spark: SparkSession, path: String, manifest: DataFrame,
                    ranges: Seq[(String, String, String)]): PrunedScan = {
    val total = manifest.count()
    val files = manifest.filter(intersectsStrExpr(ranges)).select(col("file"))
      .collect().map(_.getString(0)).toSeq
    val df =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files: _*).filter(inBoxStrExpr(ranges))
    PrunedScan(df, files.size.toLong, total)
  }
}
