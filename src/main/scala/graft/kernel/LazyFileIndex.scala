package graft.kernel

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/**
 * Dataset-backed Add index for huge tables: the checkpoint's add/remove rows
 * stay in parquet, and pruning evaluates file-skipping predicates as a
 * distributed job that reduces ONLY the surviving AddFiles to the driver —
 * a snapshot load over a 10M-Add table costs a columnar control-plane read,
 * not a 10M-object driver materialization (the SURVEY §1.1 design;
 * delta-rs keeps the equivalent state in Arrow batches,
 * `kernel/snapshot/mod.rs:1168` EagerSnapshot).
 *
 * The JSON tail after the checkpoint (bounded by delta.checkpointInterval
 * commits) is replayed eagerly on the driver and overlays the checkpoint:
 * tail adds/removes win over checkpoint rows for the same (path, dvId).
 *
 * Full materialization stays available ([[materializeAdds]]) for operators
 * that genuinely need every file (VACUUM, RESTORE, FSCK) and is cached.
 */
class LazyFileIndex(
    spark: SparkSession,
    val checkpointParts: Seq[Path],
    val tailAdds: Vector[AddFile],
    val tailRemoves: Vector[RemoveFile]) {

  @volatile private var cachedAdds: Vector[AddFile] = _
  @volatile private var cachedRemoves: Vector[RemoveFile] = _

  /** True once the full Add vector has been pulled to the driver. */
  def isMaterialized: Boolean = cachedAdds != null

  // overlay identity is (path, dvUniqueId) — AddFile.reconcileKey — so a
  // tail tombstone for an old DV state shadows exactly that checkpoint row,
  // never a same-path row with a different (live) deletion vector
  private lazy val tailKeys: Set[String] =
    (tailAdds.map(_.reconcileKey) ++ tailRemoves.map(_.reconcileKey)).toSet

  private def colDf(name: String, dt: StructType) = spark.read
    .schema(StructType(Seq(StructField(name, dt))))
    .parquet(checkpointParts.map(_.toString): _*)
    .filter(col(name).isNotNull)

  // add-column reads go through the stats_parsed-aware reader (ONE footer
  // peek per index instance): a writeStatsAsJson=false checkpoint read
  // through the bare addType nulls every stat — data skipping silently
  // degrades to full scans exactly on the huge tables lazy mode serves
  private lazy val addDf = Checkpoints.addColumnDf(spark, checkpointParts)

  /** Distributed prune of an index that is not materialized (a materialized
    * one is pruned on the driver, like an eager snapshot): file-skipping
    * predicates evaluate on executors over the checkpoint parquet; only
    * survivors cross to the driver. `schema`/`partitionColumns`/`preds` must
    * already be in the physical domain when column mapping is enabled (see
    * [[StatsPruning.prune]]). */
  def prune(
      schema: StructType,
      partitionColumns: Seq[String],
      preds: Seq[Expression]): Vector[AddFile] = {
    val schemaJson = schema.json
    val pc = partitionColumns
    val predsB = spark.sparkContext.broadcast(preds.toVector)
    val overlayB = spark.sparkContext.broadcast(tailKeys)
    val survivors = addDf.rdd.mapPartitions { it =>
      val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val ps = predsB.value
      val overlay = overlayB.value
      it.flatMap { row =>
        val f = Checkpoints.decodeAdd(row.getStruct(0))
        if (!overlay.contains(f.reconcileKey) &&
            StatsPruning.fileMayMatchAll(sch, pc, ps, f)) Some(f)
        else None
      }
    }.collect().toVector
    survivors ++ tailAdds.filter(f =>
      StatsPruning.fileMayMatchAll(schema, partitionColumns, preds, f))
  }

  /** Live file count without materializing (checkpoint rows minus overlay
    * plus the tail). */
  def countAdds(): Long = {
    if (isMaterialized) return cachedAdds.size.toLong
    val overlayB = spark.sparkContext.broadcast(tailKeys)
    val ckpt = addDf.rdd.mapPartitions { it =>
      val overlay = overlayB.value
      it.filter(row => !overlay.contains(Checkpoints.decodeAdd(row.getStruct(0)).reconcileKey))
    }.count()
    ckpt + tailAdds.size
  }

  /** (numFiles, totalBytes, numRecords-if-complete, dvCardinality) as one
    * distributed pass with per-partition partial aggregation — one tuple
    * per PARTITION reaches the driver, not one per file. */
  def statsSummary(): (Long, Long, Option[Long], Long) = {
    def summarize(fs: Iterator[AddFile]): (Long, Long, Long, Boolean, Long) = {
      var n = 0L; var size = 0L; var recs = 0L; var complete = true; var dv = 0L
      fs.foreach { f =>
        n += 1; size += f.size
        f.numRecords match {
          case Some(r) => recs += r
          case None => complete = false
        }
        dv += f.deletionVector.map(_.cardinality).getOrElse(0L)
      }
      (n, size, recs, complete, dv)
    }
    val zero = (0L, 0L, 0L, true, 0L)
    def merge(a: (Long, Long, Long, Boolean, Long), b: (Long, Long, Long, Boolean, Long)) =
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 && b._4, a._5 + b._5)

    val ckpt =
      if (isMaterialized) summarize(cachedAdds.iterator)
      else {
        val overlayB = spark.sparkContext.broadcast(tailKeys)
        addDf.rdd.mapPartitions { it =>
          val overlay = overlayB.value
          Iterator(summarize(it.map(row => Checkpoints.decodeAdd(row.getStruct(0)))
            .filterNot(f => overlay.contains(f.reconcileKey))))
        }.fold(zero)(merge)
      }
    val total = merge(ckpt,
      if (isMaterialized) zero else summarize(tailAdds.iterator))
    (total._1, total._2, if (total._4) Some(total._3) else None, total._5)
  }

  /** Single-column ("rel") DataFrame of every path VACUUM must treat as
    * live: data file paths plus deletion-vector blob paths, checkpoint rows
    * overlay-corrected with the tail — never materialized on the driver. */
  def liveRelPathsDf(tablePathStr: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val overlayB = spark.sparkContext.broadcast(tailKeys)
    val ckpt = addDf.rdd.mapPartitions { it =>
      val tp = new Path(tablePathStr)
      val uri = tp.toUri
      val overlay = overlayB.value
      it.flatMap { row =>
        val f = Checkpoints.decodeAdd(row.getStruct(0))
        if (overlay.contains(f.reconcileKey)) Iterator.empty
        // scheme-robust relativize — the Maintenance.relPaths discipline:
        // an unmatchable DV rel drops a live blob from VACUUM's protection
        else Iterator(PathCodec.decode(f.path)) ++ f.deletionVector
          .flatMap(dv => DeletionVectors.dvPath(tp, dv))
          .flatMap(p => DeletionVectors.relDvPath(uri, p)).iterator
      }
    }
    val tpUri = new Path(tablePathStr).toUri
    val tailRels = tailAdds.flatMap { f =>
      PathCodec.decode(f.path) +: f.deletionVector
        .flatMap(dv => DeletionVectors.dvPath(new Path(tablePathStr), dv))
        .flatMap(p => DeletionVectors.relDvPath(tpUri, p)).toSeq
    }
    spark.createDataset(ckpt).toDF("rel")
      .union(tailRels.toDF("rel"))
  }

  /** Tombstoned paths with deletionTimestamp >= cutoff (recent = true) or
    * < cutoff (recent = false), as a ("rel") DF — data file paths AND their
    * deletion-vector blob paths. A retained tombstone protects BOTH (time
    * travel / RESTORE into the retention window must still decode the
    * mask), so omitting the DV rel here would let a lazy-snapshot VACUUM
    * delete a blob the eager path protects. */
  def tombstoneRelsDf(cutoffMs: Long, recent: Boolean,
      tablePathStr: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    // function VALUES, not local defs: defs lift to methods that can drag
    // `this` (non-serializable index) into the task closure
    val keep: Option[Long] => Boolean = ts => {
      val t = ts.getOrElse(Long.MaxValue)
      if (recent) t >= cutoffMs else t < cutoffMs
    }
    val rels: (RemoveFile, Path) => Seq[String] = (r, tp) =>
      PathCodec.decode(r.path) +: r.deletionVector
        .flatMap(dv => DeletionVectors.dvPath(tp, dv))
        .flatMap(p => DeletionVectors.relDvPath(tp.toUri, p)).toSeq
    val ckpt = colDf("remove", Checkpoints.removeType).rdd.mapPartitions { it =>
      val tp = new Path(tablePathStr)
      it.flatMap { row =>
        val r = Checkpoints.decodeRemove(row.getStruct(0))
        if (keep(r.deletionTimestamp)) rels(r, tp) else Nil
      }
    }
    spark.createDataset(ckpt).toDF("rel")
      .union(tailRemoves.filter(r => keep(r.deletionTimestamp))
        .flatMap(r => rels(r, new Path(tablePathStr))).toDF("rel"))
  }

  /** Only the Adds below `maxSize` bytes (OPTIMIZE compaction candidates):
    * the size filter runs on executors over the checkpoint parquet, so a
    * mostly-compacted 10M-file table reduces just its small-file minority to
    * the driver — bin planning never needs the full Add vector. */
  def addsSmallerThan(maxSize: Long): Vector[AddFile] = {
    if (isMaterialized) return cachedAdds.filter(_.size < maxSize)
    val overlayB = spark.sparkContext.broadcast(tailKeys)
    val ckpt = addDf.rdd.mapPartitions { it =>
      val overlay = overlayB.value
      it.flatMap { row =>
        val f = Checkpoints.decodeAdd(row.getStruct(0))
        if (f.size < maxSize && !overlay.contains(f.reconcileKey)) Some(f) else None
      }
    }.collect().toVector
    ckpt ++ tailAdds.filter(_.size < maxSize)
  }

  /** Full Add vector (checkpoint + tail overlay), cached after first pull. */
  def materializeAdds(): Vector[AddFile] = {
    if (cachedAdds == null) synchronized {
      if (cachedAdds == null) {
        val overlayB = spark.sparkContext.broadcast(tailKeys)
        val ckpt = addDf.rdd.mapPartitions { it =>
          val overlay = overlayB.value
          it.flatMap { row =>
            val f = Checkpoints.decodeAdd(row.getStruct(0))
            if (overlay.contains(f.reconcileKey)) None else Some(f)
          }
        }.collect().toVector
        cachedAdds = ckpt ++ tailAdds
      }
    }
    cachedAdds
  }

  /** Full tombstone vector (checkpoint removes + tail; a tail re-add clears
    * a checkpoint tombstone). */
  def materializeTombstones(): Vector[RemoveFile] = {
    if (cachedRemoves == null) synchronized {
      if (cachedRemoves == null) {
        val overlayB = spark.sparkContext.broadcast(tailKeys)
        val ckpt = colDf("remove", Checkpoints.removeType).rdd.mapPartitions { it =>
          val overlay = overlayB.value
          it.flatMap { row =>
            val r = Checkpoints.decodeRemove(row.getStruct(0))
            if (overlay.contains(r.reconcileKey)) None else Some(r)
          }
        }.collect().toVector
        cachedRemoves = ckpt ++ tailRemoves
      }
    }
    cachedRemoves
  }
}
