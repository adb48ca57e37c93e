package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Delta Lake `_delta_log` INTEROP — read an actual Delta table (the
  * format the reference's production Databricks side writes) without any
  * delta jars, from the PUBLIC log protocol alone (delta.io PROTOCOL.md):
  * the log is newline-delimited JSON actions under `_delta_log/`, one
  * `<20-digit version>.json` per commit, where
  *
  *   - `metaData.schemaString` is a Spark `StructType` JSON (so
  *     `DataType.fromJson` parses it directly),
  *   - `add.path` / `remove.path` are table-relative (URL-encoded) data
  *     file paths, with `add.partitionValues` carrying the Hive-style
  *     partition column values the files themselves do NOT store,
  *   - the snapshot at version V is the replay of adds minus removes over
  *     commits ≤ V — exactly our own manifest-log discipline, different
  *     serialization.
  *
  * CHECKPOINT replay (PROTOCOL.md "Checkpoints"): a production log
  * truncates its early JSON commits once a parquet checkpoint exists —
  * `_last_checkpoint` names the version, the checkpoint parquet holds
  * one action per row (protocol / metaData / add structs; remove rows
  * are vacuum tombstones, not live state). [[snapshotAt]] loads the
  * newest checkpoint at-or-below the target and replays only the JSON
  * tail after it — the shape every stock Delta reader uses, and the
  * only way to read a log whose head JSONs are gone. Multi-part
  * checkpoints (`.checkpoint.<i>.<n>.parquet`) are unioned.
  *
  * Scope (documented, loud otherwise): column-mapping and
  * deletion-vector tables are refused (their reads need physical-name /
  * DV semantics this reader does not re-implement); a pinned version
  * BELOW the oldest reconstructable state (no checkpoint ≤ it, JSON 0
  * gone) is refused with the gap named.
  *
  * [[read]] serves the snapshot as a DataFrame (time travel via
  * `version`); [[convertToLake]] adopts the CURRENT snapshot as a lake
  * table IN PLACE — a footer-stats manifest over the live files, zero
  * data copied — after which the whole engine surface (typed DML,
  * OPTIMIZE, MVs, streaming) applies; [[exportDeltaLog]] is the reverse
  * publish: a lake snapshot's live files become a fresh `_delta_log`
  * (protocol + metaData + adds, zero data copied) that stock Delta
  * readers — and [[read]] — serve. Scale shape: log replay is
  * commit-count-bounded driver JSON parsing plus one file-count-bounded
  * checkpoint scan; the read itself plans one scan per partition-value
  * group (bounded by distinct partition tuples, the same shape
  * Hive-style listing produces); conversion/export are file-count-
  * bounded manifest/log builds.
  */
object DeltaInterop {

  final case class Snapshot(version: Long, schema: StructType,
                            partitionCols: Seq[String],
                            // live file → partition values (in
                            // partitionCols order, raw strings)
                            files: Map[String, Seq[String]])

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Commit versions present in the log, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Long] =
    listLog(spark, dir)._1

  private val JsonCommit = """(\d{20})\.json""".r
  private val Checkpoint =
    """(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.parquet""".r

  /** ONE listing of `_delta_log`: the JSON commit versions, ascending, and
    * the checkpoint parquet(s), version → absolute file paths (multi-part
    * checkpoints grouped; readers union them). */
  private def listLog(spark: SparkSession, dir: String)
      : (Seq[Long], Map[Long, Seq[String]]) = {
    val names =
      try fs(spark, dir)
        .listStatus(new org.apache.hadoop.fs.Path(dir, "_delta_log")).toSeq
        .map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    (names.collect { case JsonCommit(v) => v.toLong }.sorted,
      names.collect { case n @ Checkpoint(v) => v.toLong -> n }
        .groupBy(_._1).map { case (v, ns) =>
          v -> ns.map(p => s"$dir/_delta_log/${p._2}").sorted
        })
  }

  /** Replay the log to `version` (default: head). A log whose early JSON
    * commits were checkpoint-truncated loads the newest checkpoint
    * at-or-below the target and replays only the JSON tail after it. */
  def snapshotAt(spark: SparkSession, dir: String,
                 version: Option[Long] = None): Snapshot = {
    val (vs, ckpts) = listLog(spark, dir)
    require(vs.nonEmpty || ckpts.nonEmpty,
      s"no _delta_log JSON commits or checkpoints under $dir")
    val target = version.getOrElse((vs ++ ckpts.keys).max)
    require(vs.contains(target) || ckpts.contains(target),
      s"version $target is not in the log (have ${vs.mkString(", ")}; " +
        s"checkpoints ${ckpts.keys.toSeq.sorted.mkString(", ")})")
    val base = ckpts.keys.filter(_ <= target).maxOption
    base match {
      case None =>
        // no checkpoint below the target: replay is only sound when the
        // JSON chain starts at 0
        require(vs.nonEmpty && vs.head == 0L,
          s"log starts at ${vs.headOption.getOrElse("?")}, not 0, and no " +
            s"checkpoint exists at or below $target — the snapshot is " +
            "not reconstructable")
      case Some(cv) =>
        val missing = ((cv + 1) to target).filterNot(vs.contains)
        require(missing.isEmpty,
          s"JSON commits ${missing.mkString(", ")} are missing between " +
            s"checkpoint $cv and $target — the log is torn")
    }
    val f = fs(spark, dir)
    var schema: Option[StructType] = None
    var partCols: Seq[String] = Seq.empty
    val live = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[String]]
    // checkpoint state first: one action per parquet row — metaData
    // carries the schema, add rows ARE the live set (remove rows are
    // vacuum tombstones, never live state)
    base.foreach { cv =>
      val df = spark.read.parquet(ckpts(cv): _*)
      df.filter(col("metaData").isNotNull)
        .select(col("metaData.schemaString"),
          col("metaData.partitionColumns"),
          col("metaData.configuration")).collect().foreach { r =>
          val conf: Map[String, String] =
            if (r.isNullAt(2)) Map.empty
            else r.getMap[String, String](2).toMap
          require(!conf.get("delta.columnMapping.mode").exists(_ != "none"),
            s"delta table $dir uses column mapping — physical-name reads " +
              "are out of this reader's scope")
          schema = Some(DataType.fromJson(r.getString(0))
            .asInstanceOf[StructType])
          partCols = if (r.isNullAt(1)) Seq.empty else r.getSeq[String](1)
        }
      require(schema.isDefined,
        s"checkpoint $cv of $dir carries no metaData action")
      val addFields = df.schema("add").dataType.asInstanceOf[StructType]
        .fieldNames.toSet
      if (addFields.contains("deletionVector"))
        require(df.filter(col("add.deletionVector").isNotNull)
          .limit(1).count() == 0,
          s"delta table $dir carries deletion vectors — MoR reads are " +
            "out of this reader's scope (PURGE it from Delta first)")
      df.filter(col("add.path").isNotNull)
        .select(col("add.path"), col("add.partitionValues"))
        .collect().foreach { r =>
          val path = java.net.URLDecoder.decode(r.getString(0), "UTF-8")
          val pv: Map[String, String] =
            if (r.isNullAt(1)) Map.empty
            else r.getMap[String, String](1).toMap
          live.put(path, partCols.map(c => pv.getOrElse(c, null)))
        }
    }
    for (v <- vs.filter(v => v <= target && base.forall(_ < v))) {
      val p = new org.apache.hadoop.fs.Path(dir,
        f"_delta_log/$v%020d.json")
      val in = f.open(p)
      val body = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      body.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        if (node.has("metaData")) {
          val md = node.get("metaData")
          val conf = Option(md.get("configuration"))
          val cm = conf.flatMap(c =>
            Option(c.get("delta.columnMapping.mode")))
            .map(_.asText()).filterNot(_ == "none")
          require(cm.isEmpty,
            s"delta table $dir uses column mapping '${cm.get}' — " +
              "physical-name reads are out of this reader's scope")
          schema = Some(DataType.fromJson(md.get("schemaString").asText())
            .asInstanceOf[StructType])
          partCols = Option(md.get("partitionColumns")).toSeq
            .flatMap(a => (0 until a.size()).map(a.get(_).asText()))
        }
        if (node.has("add")) {
          val add = node.get("add")
          require(!add.has("deletionVector") ||
            add.get("deletionVector").isNull,
            s"delta table $dir carries deletion vectors — MoR reads are " +
              "out of this reader's scope (PURGE it from Delta first)")
          val path = java.net.URLDecoder.decode(
            add.get("path").asText(), "UTF-8")
          val pv = Option(add.get("partitionValues"))
          // Delta encodes a null partition value as JSON null; Jackson
          // hands that back as a NON-null NullNode whose asText() is the
          // string "null" — filter explicit nulls so string-typed
          // partition columns get SQL NULL, not the literal text "null"
          live.put(path, partCols.map(c =>
            pv.flatMap(m => Option(m.get(c))).filterNot(_.isNull)
              .map(_.asText()).orNull))
        }
        if (node.has("remove")) {
          val path = java.net.URLDecoder.decode(
            node.get("remove").get("path").asText(), "UTF-8")
          live.remove(path)
        }
      }
    }
    Snapshot(target,
      schema.getOrElse(throw new IllegalStateException(
        s"log under $dir carries no metaData action")),
      partCols, live.toMap)
  }

  /** The snapshot's rows. Partitioned tables group files by partition
    * tuple and inject the (typed) partition values per group — the data
    * files do not store those columns. */
  def read(spark: SparkSession, dir: String,
           version: Option[Long] = None): DataFrame = {
    val snap = snapshotAt(spark, dir, version)
    val dataSchema = StructType(snap.schema.fields
      .filterNot(f => snap.partitionCols.contains(f.name)))
    val byName = snap.schema.fields.map(f => f.name -> f.dataType).toMap
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), snap.schema)
    val groups = snap.files.toSeq.groupBy(_._2)
    groups.toSeq.map { case (pvals, members) =>
      val paths = members.map { case (rel, _) => s"$dir/$rel" }
      val base = spark.read.schema(dataSchema).parquet(paths: _*)
      snap.partitionCols.zip(pvals).foldLeft(base) {
        case (df, (c, v)) =>
          df.withColumn(c,
            (if (v == null) lit(null) else lit(v)).cast(byName(c)))
      }.select(snap.schema.fieldNames.toIndexedSeq.map(col): _*)
    }.reduce(_.unionByName(_))
  }

  /** Write ONE Delta JSON commit (the minimal single-writer side of the
    * interop: protocol 1/2, no checkpoints — enough that stock Delta
    * readers, and [[read]], replay it). `adds` are table-relative data
    * file paths with their partition values (empty seq for
    * unpartitioned); `removes` are relative paths leaving the snapshot.
    * Version 0 must carry the schema; later commits may omit it. */
  def writeCommit(spark: SparkSession, dir: String, version: Long,
                  schema: Option[StructType],
                  partitionCols: Seq[String] = Seq.empty,
                  adds: Seq[(String, Seq[String])] = Seq.empty,
                  removes: Seq[String] = Seq.empty): Unit = {
    require(version > 0 || schema.isDefined,
      "delta commit 0 must carry the table schema")
    val f = fs(spark, dir)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    if (version == 0L)
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    schema.foreach { sch =>
      val md = mapper.createObjectNode()
      val m = md.putObject("metaData")
      m.put("id", java.util.UUID.randomUUID().toString)
      val fmt = m.putObject("format")
      fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", sch.json)
      val pc = m.putArray("partitionColumns")
      partitionCols.foreach(pc.add)
      m.putObject("configuration")
      m.put("createdTime", 0L)
      lines += mapper.writeValueAsString(md)
    }
    adds.foreach { case (rel, pvals) =>
      val st = f.getFileStatus(new org.apache.hadoop.fs.Path(dir, rel))
      val an = mapper.createObjectNode()
      val a = an.putObject("add")
      a.put("path", rel)
      val pv = a.putObject("partitionValues")
      partitionCols.zip(pvals).foreach { case (c, v) => pv.put(c, v) }
      a.put("size", st.getLen)
      a.put("modificationTime", st.getModificationTime)
      a.put("dataChange", true)
      lines += mapper.writeValueAsString(an)
    }
    removes.foreach { rel =>
      val rn = mapper.createObjectNode()
      val r = rn.putObject("remove")
      r.put("path", rel)
      r.put("deletionTimestamp", 0L)
      r.put("dataChange", true)
      lines += mapper.writeValueAsString(rn)
    }
    val p = new org.apache.hadoop.fs.Path(dir,
      f"_delta_log/$version%020d.json")
    require(!f.exists(p), s"delta commit $version already exists under $dir")
    val out = f.create(p, false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Land `df` as ONE parquet data file at `dir/rel` (staging write +
    * rename — the helper a writeCommit caller uses to produce the file a
    * commit then references). */
  def landFile(df: DataFrame, dir: String, rel: String): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    val staging = new org.apache.hadoop.fs.Path(
      dir, s".delta_stage_${java.util.UUID.randomUUID()}")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = f.listStatus(staging).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"no part file staged under $staging"))
    val dest = new org.apache.hadoop.fs.Path(dir, rel)
    f.mkdirs(dest.getParent)
    require(f.rename(part, dest), s"rename $part -> $dest failed")
    f.delete(staging, true) : Unit
  }

  /** Write a parquet CHECKPOINT of the snapshot at `version` plus the
    * `_last_checkpoint` pointer — the protocol artifact that lets a log
    * drop its early JSON commits (production logs checkpoint every ~10
    * commits and vacuum the JSON head). One action per row: a protocol
    * row, a metaData row, one add row per live file. */
  def writeCheckpoint(spark: SparkSession, dir: String,
                      version: Long): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val snap = snapshotAt(spark, dir, Some(version))
    val f = fs(spark, dir)
    val pvType = MapType(StringType, StringType, valueContainsNull = true)
    val ckSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", pvType),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", pvType),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType))))))
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(Row(1, 2), null, null))
    rows.add(Row(null, Row(java.util.UUID.randomUUID().toString,
      Row("parquet"), snap.schema.json, snap.partitionCols,
      Map.empty[String, String], 0L), null))
    snap.files.toSeq.sortBy(_._1).foreach { case (rel, pvals) =>
      val st = f.getFileStatus(new org.apache.hadoop.fs.Path(dir, rel))
      rows.add(Row(null, null, Row(rel,
        snap.partitionCols.zip(pvals).toMap, st.getLen,
        st.getModificationTime, true)))
    }
    // land as the single-part canonical name via staging rename
    val staging = new org.apache.hadoop.fs.Path(dir,
      s".ckpt_stage_${java.util.UUID.randomUUID()}")
    spark.createDataFrame(rows, ckSchema).coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    val part = f.listStatus(staging).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"no checkpoint part staged under $staging"))
    val dest = new org.apache.hadoop.fs.Path(dir,
      f"_delta_log/$version%020d.checkpoint.parquet")
    require(f.rename(part, dest), s"rename $part -> $dest failed")
    f.delete(staging, true)
    val lc = f.create(new org.apache.hadoop.fs.Path(dir,
      "_delta_log/_last_checkpoint"), true)
    try lc.write(
      s"""{"version":$version,"size":${rows.size()}}""".getBytes("UTF-8"))
    finally lc.close()
  }

  /** PUBLISH a lake snapshot as a fresh `_delta_log` over its own data
    * directory — the reverse of [[convertToLake]], zero data copied: an
    * external Delta reader (or [[read]]) pointed at `spec.path` serves
    * exactly the lake version's live rows. Loud refusals: a DV-masked
    * snapshot (appended JSON cannot express a mask), column mapping in
    * force, a file outside the data dir (Delta paths are
    * table-relative), or a dir that already carries a `_delta_log`. */
  def exportDeltaLog(spark: SparkSession, manifestRoot: String,
                     dataDir: String, version: Option[Int] = None): Long = {
    import graft.sinks.{Dv, Snapshots}
    val v = version.getOrElse(Snapshots.latestVersion(spark, manifestRoot))
    require(Snapshots.columnMapping(spark, manifestRoot, v).isEmpty,
      "exportDeltaLog under column mapping is not supported — data files " +
        "store physical names the exported schema would not match")
    val entries = Dv.entries(Snapshots.manifestAt(spark, manifestRoot, v))
    val masked = entries.filter(_.dv.isDefined)
    require(masked.isEmpty,
      s"lake version $v carries deletion-vector-masked files " +
        s"(${masked.map(_.file).mkString(", ")}) — REORG … APPLY (PURGE) " +
        "before exporting a Delta log")
    val f = fs(spark, dataDir)
    require(!f.exists(new org.apache.hadoop.fs.Path(dataDir, "_delta_log")),
      s"$dataDir already carries a _delta_log — refusing to overwrite " +
        "another table's history")
    val qualified = f.makeQualified(
      new org.apache.hadoop.fs.Path(dataDir)).toString
    val rels = entries.map(_.file).sorted.map { file =>
      val q = f.makeQualified(new org.apache.hadoop.fs.Path(file)).toString
      require(q.startsWith(qualified + "/"),
        s"live file $file is outside $dataDir — Delta paths are " +
          "table-relative; compact/relocate first")
      q.stripPrefix(qualified + "/")
    }
    val schema = Snapshots.tableAt(spark, manifestRoot, v).schema
    writeCommit(spark, dataDir, 0L, Some(schema),
      adds = rels.map(_ -> Seq.empty[String]))
    0L
  }

  /** Adopt the head snapshot as a registered lake table IN PLACE: one
    * footer-stats manifest commit over the live files, zero data copied
    * (the `CONVERT TO DELTA` shape, pointed the other way). Partitioned
    * delta tables are refused — the lake manifest stores per-file stats
    * of PHYSICAL columns, and partition values live only in the log. */
  def convertToLake(spark: SparkSession, dir: String, name: String,
                    manifestRoot: String, statsCols: Seq[String],
                    nFiles: Int = 8): Int = {
    val snap = snapshotAt(spark, dir, None)
    require(snap.partitionCols.isEmpty,
      "CONVERT of a PARTITIONED delta table is not supported — partition " +
        "values are log-only; read it via DeltaInterop.read and CTAS")
    require(graft.sinks.Snapshots.versions(spark, manifestRoot).isEmpty,
      s"$manifestRoot already has versions")
    val paths = snap.files.keys.toSeq.sorted.map(rel => s"$dir/$rel")
    val manifest =
      graft.sinks.Layout.buildManifestFor(spark, paths, statsCols)
    graft.sinks.Snapshots.commit(spark, manifest, manifestRoot)
  }
}
