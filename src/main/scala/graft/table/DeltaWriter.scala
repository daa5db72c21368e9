package graft.table

import java.util.UUID

import scala.collection.parallel.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

import graft.kernel.{AddFile, ParquetStats, PartitionCodec, PathCodec}

/**
 * Physical file writer: stage hive-partitioned parquet with Spark's native
 * writer, harvest footer stats, move files into the table directory, and
 * return the `Add` actions. This replaces delta-rs's hand-rolled
 * `PartitionWriter`/`RecordBatchWriter` (`crates/core/src/operations/write/writer.rs:414`,
 * `writer/record_batch.rs:44`) with Spark's distributed, codegen'd parquet
 * sink — stats collection stays footer-based like `writer/stats.rs:82-130`.
 */
object DeltaWriter {

  /** Hive path-name escaping — delegated to Spark's own implementation so
    * the unescape is the EXACT inverse of what FileFormatWriter wrote into
    * the staging dirs (a hand-maintained copy could silently diverge on an
    * edge character; partition VALUES always come from the log on read, so
    * only staged-dir parsing and dest-dir naming flow through here). */
  def unescapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Write `df` as parquet data files of the table; returns Add actions with
    * relative paths, partition values, and footer-derived stats. Does NOT
    * commit. */
  def writeFiles(
      spark: SparkSession,
      tablePath: Path,
      df: DataFrame,
      partitionColumns: Seq[String],
      numIndexedCols: Int = 32,
      optimizeWrite: Boolean = false,
      pathPrefix: String = "",
      meta: Option[graft.kernel.Metadata] = None): Seq[AddFile] = {

    // column mapping: files/partition dirs/stats carry physical names
    val mapped = meta.exists(graft.kernel.ColumnMapping.enabled)
    val (dfPhys, physPartCols) =
      if (mapped) {
        val m = meta.get
        val nm = graft.kernel.ColumnMapping.nameMap(m.schema)
        (graft.kernel.ColumnMapping.toPhysical(df, m.schema),
          partitionColumns.map(c => nm.getOrElse(c, c)))
      } else (df, partitionColumns)

    val fs = tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new Path(tablePath, s".tmp_write_${UUID.randomUUID().toString.take(12)}")

    val toWrite =
      if (optimizeWrite && physPartCols.nonEmpty)
        dfPhys.repartition(physPartCols.map(quotedCol): _*)
      else dfPhys

    // honor the table's compression property (delta-spark's knob; the
    // reference exposes the same through WriterProperties, python
    // writer.py) — falls back to Spark's session codec (snappy). Hoisted so
    // the targetFileSize RESPLIT rewrite below uses the same codec.
    val codec = meta.flatMap(
      _.configuration.get("delta.parquet.compression.codec")).map(_.trim)
    try withMicrosTimestamps(spark) {
      val writer0 = toWrite.write.mode("overwrite")
      val writer = codec.fold(writer0)(c => writer0.option("compression", c))
      (if (physPartCols.nonEmpty) writer.partitionBy(physPartCols: _*) else writer)
        .parquet(staging.toString)
    } catch {
      case e: Throwable =>
        // ANY write failure must reclaim the staging dir (a partial staged
        // copy of the data would otherwise accumulate inside the table path
        // — VACUUM skips hidden dirs). Constraint-marker failures
        // (Validation.MARKER raise_error guards evaluated during this
        // write) additionally surface as the library's exception.
        // Best-effort cleanup: a delete that ALSO fails (same outage that
        // killed the write) must not mask the root cause or skip the
        // constraint-exception mapping below. An interrupt (job
        // cancellation) restores the thread's flag instead of vanishing;
        // ordinary failures log the leaked path (VACUUM skips hidden dirs,
        // so nothing else will ever report it).
        try fs.delete(staging, true) catch {
          case ie: InterruptedException =>
            Thread.currentThread().interrupt()
            e.addSuppressed(ie)
          case scala.util.control.NonFatal(e2) =>
            DeltaTable.logger.warn(s"staging cleanup failed for $staging", e2)
            // attached to the thrown exception like the post-write twin
            // below: callers capturing it see the leaked path too
            e.addSuppressed(e2)
        }
        var t: Throwable = e
        while (t != null) {
          val m = t.getMessage
          if (m != null && m.contains(graft.ops.Validation.MARKER)) {
            throw new graft.ops.ConstraintViolationException(
              m.substring(m.indexOf(graft.ops.Validation.MARKER)))
          }
          t = t.getCause
        }
        throw e
    }

    // Everything from here to the commit-ready Adds must clean the staging
    // dir on failure — a throw mid-walk/stats/resplit/move would otherwise
    // leak a full staged copy of the data inside the table path
    try {
    // Collect written part-files (recursive; partition dirs in between).
    // The listing's FileStatus already carries each file's length — keep it
    // so the targetFileSize split decision below costs zero extra HEADs.
    val files = scala.collection.mutable.ArrayBuffer[(Path, Seq[(String, String)], Long)]()
    def walk(dir: Path, parts: Seq[(String, String)]): Unit = {
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val eq = name.indexOf('=')
          if (eq > 0) {
            val k = unescapePathName(name.substring(0, eq))
            val v = unescapePathName(name.substring(eq + 1))
            walk(st.getPath, parts :+ (k -> v))
          } else walk(st.getPath, parts)
        } else if (name.startsWith("part-") && name.endsWith(".parquet")) {
          files += ((st.getPath, parts, st.getLen))
        }
      }
    }
    walk(staging, Nil)

    val conf = spark.sessionState.newHadoopConf()
    val dataSchema = StructType(dfPhys.schema.filterNot(f => physPartCols.contains(f.name)))

    // delta.dataSkippingStatsColumns: an explicit stats-column list that
    // overrides the positional numIndexedCols prefix. Names are LOGICAL in
    // the table property; stats keys are physical under column mapping.
    val statsCols: Option[Set[String]] = meta.flatMap { m =>
      m.configuration.get("delta.dataSkippingStatsColumns").map { s =>
        val logical = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        // CASE-INSENSITIVE like every other schema match in this writer:
        // delta-spark resolves the property with the session resolver, so
        // a table configured elsewhere may carry "ID" for column `id` —
        // exact-case matching made such tables unwritable here (and the
        // name-map lookup silently collected no stats)
        val byLower = m.schema.fieldNames
          .map(f => f.toLowerCase(java.util.Locale.ROOT) -> f).toMap
        // the property allows dotted NESTED paths (delta-spark dialect);
        // validate only the head segment so a table configured by another
        // engine stays writable — we collect stats for top-level leaves
        // only, so a nested name simply gets no stats (pruning fails open)
        val unknown = logical.filterNot(c =>
          byLower.contains(c.toLowerCase(java.util.Locale.ROOT)) ||
            byLower.contains(c.split('.').head.toLowerCase(java.util.Locale.ROOT)))
        require(unknown.isEmpty,
          s"delta.dataSkippingStatsColumns names unknown column(s): " +
            s"${unknown.mkString(", ")} (schema: ${byLower.values.mkString(", ")})")
        val nm = if (graft.kernel.ColumnMapping.enabled(m))
          graft.kernel.ColumnMapping.nameMap(m.schema) else Map.empty[String, String]
        // canonicalize to the schema's case first, then logical→physical
        // Locale.ROOT: a tr_TR default locale lowercases "ID" to dotless-i,
        // missing schema key "id" and re-wedging the very tables this
        // case-insensitive match exists to keep writable
        logical.map { c =>
          val canon = byLower.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c)
          nm.getOrElse(canon, canon)
        }.toSet
      }
    }

    // delta.targetFileSize: resplit staged files that came out oversized.
    // Only the oversized data pays the extra read/write, and bytes-per-row
    // is exact (taken from the staged file itself) rather than a pre-write
    // guess — the reference sizes files while streaming the write
    // (operations/mod.rs:598-609, write/writer.rs:317).
    val targetSize = meta.flatMap(_.configuration.get("delta.targetFileSize"))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption).filter(_ > 0)
    val finalFiles: Seq[(Path, Seq[(String, String)])] = targetSize match {
      case None => files.toSeq.map { case (p, parts, _) => (p, parts) }
      case Some(tgt) =>
        // overflow-safe 1.5x threshold: `tgt * 3 / 2` wraps negative for a
        // targetFileSize above Long.MaxValue/3, classifying EVERY staged
        // file as oversized and doubling the write's IO for nothing
        val threshold =
          if (tgt > Long.MaxValue / 3 * 2) Long.MaxValue else tgt / 2 * 3
        val (overL, okL) = files.toSeq.partition(_._3 > threshold)
        val ok = okL.map { case (p, parts, _) => (p, parts) }
        val resplit = overL.zipWithIndex.flatMap { case ((p, parts, len), i) =>
          val (rows, _) = ParquetStats.collect(conf, p, dataSchema, 0)
          val chunks = math.max(2L, (len + tgt - 1) / tgt)
          val perFile = math.max(1L, (rows + chunks - 1) / chunks)
          val sub = new Path(staging, s"resplit_$i")
          withMicrosTimestamps(spark) {
            // glob-escaped: a table path with [] {} * ? would make this
            // re-read match nothing — or sibling files — instead of the
            // staged file
            val w0 = spark.read.schema(dataSchema)
              .parquet(PathCodec.globEscape(p.toString))
              .write.option("maxRecordsPerFile", perFile)
            codec.fold(w0)(c => w0.option("compression", c))
              .mode("overwrite").parquet(sub.toString)
          }
          fs.delete(p, false)
          fs.listStatus(sub).map(_.getPath)
            .filter(q => q.getName.startsWith("part-") && q.getName.endsWith(".parquet"))
            .sortBy(_.getName).toSeq.map(q => (q, parts))
        }
        ok ++ resplit
    }

    val adds = finalFiles.par.map { case (src, parts) =>
      val (_, statsJson) = ParquetStats.collect(conf, src, dataSchema, numIndexedCols, statsCols)
      val partDirs = parts.map { case (k, v) =>
        s"${escapePathName(k)}=${escapePathName(v)}"
      }
      val relDir = (Seq(pathPrefix).filter(_.nonEmpty) ++ partDirs).mkString("/")
      val relPath = if (relDir.isEmpty) src.getName else s"$relDir/${src.getName}"
      val dest = new Path(tablePath, relPath)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(src, dest))
        throw new IllegalStateException(s"failed to move $src -> $dest")
      val st = fs.getFileStatus(dest)
      val partValues: Map[String, String] = parts.map { case (k, v) =>
        k -> (if (v == PartitionCodec.HIVE_DEFAULT) null else v)
      }.toMap
      AddFile(
        // the log records paths as percent-encoded relative URLs
        path = graft.kernel.PathCodec.encode(relPath),
        partitionValues = partValues,
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = true,
        stats = Some(statsJson))
    }.seq

    fs.delete(staging, true)
    adds
    } catch {
      case e: Throwable =>
        try fs.delete(staging, true)
        catch {
          // preserve a cancellation's interrupt flag (same hardening as the
          // write-phase catch above) — swallowing it here made the
          // cancellation vanish into an ordinary-looking failure
          case ie: InterruptedException =>
            Thread.currentThread().interrupt()
            e.addSuppressed(ie)
          case ce: Exception =>
            // same outage usually kills the delete too: report the leaked
            // staging dir (VACUUM skips hidden dirs, nothing else will)
            DeltaTable.logger.warn(s"failed to clean staging dir $staging", ce)
            e.addSuppressed(ce)
        }
        throw e
    }
  }

  /** Delta requires µs timestamps in parquet (normalize_for_delta,
    * kernel/schema/cast/mod.rs:325); INT96 would also break footer stats.
    * VARIANT columns must land as the PLAIN spec layout
    * struct<value, metadata> — Spark 4's default shredded + logical-type
    * annotated output is the separate variantShredding-preview feature, and
    * under our 3/7 `variantType` protocol it is unreadable by plain-variant
    * readers (pyarrow 16 rejects the footer's unknown LogicalType outright;
    * CrossLangSpec guards this). These knobs are session-level (no per-write
    * parquet option exists), so scope the overrides to each write and
    * restore the user's values after. */
  private val confScopeLock = new Object
  private val confScopes =
    scala.collection.mutable.Map.empty[SparkSession, (Int, Seq[(String, Option[String])])]
  private val ConfOverrides = Seq(
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // pinned for every write (not just variant schemas): shredding-off is
    // the spec-plain output and a no-op for non-variant data, and a single
    // constant override set makes the scope safely reference-countable
    "spark.sql.variant.writeShredding.enabled" -> "false",
    "spark.sql.variant.inferShreddingSchema" -> "false",
    "spark.sql.parquet.variant.annotateLogicalType.enabled" -> "false")

  /** Reference-counted per-session conf scope: concurrent writers (e.g.
    * OPTIMIZE's bounded bin pool, racing DML threads) share one pinned
    * scope; the user's values are saved by the FIRST entrant and restored
    * by the LAST exit — a per-write save/restore raced, letting one
    * writer's restore strip the overrides while another was still
    * planning its parquet job. */
  private def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    confScopeLock.synchronized {
      confScopes.get(spark) match {
        case Some((depth, saved)) => confScopes(spark) = (depth + 1, saved)
        case None =>
          val saved = ConfOverrides.map { case (k, _) => k -> spark.conf.getOption(k) }
          ConfOverrides.foreach { case (k, v) => spark.conf.set(k, v) }
          confScopes(spark) = (1, saved)
      }
    }
    try body finally confScopeLock.synchronized {
      val (depth, saved) = confScopes(spark)
      if (depth > 1) confScopes(spark) = (depth - 1, saved)
      else {
        confScopes.remove(spark)
        // restore only keys STILL holding the pinned override: a user who
        // set their own value mid-scope (for their own non-graft writes)
        // must not have it silently clobbered by the first entrant's save
        val pinned = ConfOverrides.toMap
        saved.foreach {
          case (k, old) if spark.conf.getOption(k).contains(pinned(k)) =>
            old match {
              case Some(v) => spark.conf.set(k, v)
              case None => spark.conf.unset(k)
            }
          case _ => () // user changed it mid-scope — their value wins
        }
      }
    }
  }

  /** Hive-style escaping for partition path segments (ASCII control and
    * filesystem-special chars → %XX), matching Spark/Hive behavior. */
  def escapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  /** Backtick-quoted literal column reference — `functions.col(name)`
    * DOT-PARSES its argument (the ColumnMapping.toPhysical trap), so a
    * top-level column literally named "a.b" resolves as struct access:
    * AnalysisException at best, a struct FIELD's data silently bound to
    * the wrong table column at worst. */
  private def quotedCol(name: String) =
    col("`" + name.replace("`", "``") + "`")

  /** Align `df` to the target schema: reorder columns, cast where needed.
    * Missing nullable columns are filled with nulls. */
  def normalize(df: DataFrame, target: StructType): DataFrame = {
    val cols = target.map { f =>
      // ALL case-insensitive matches, not find's first hit: a source with
      // case-duplicate columns (`id` and `ID` under spark.sql.caseSensitive)
      // slips past the extra-column guards (they lowercase both) and a
      // silent first-match would discard one column's data — delta-spark
      // raises the same ambiguity error here
      df.schema.filter(_.name.equalsIgnoreCase(f.name)) match {
        case Seq(src) =>
          if (src.dataType == f.dataType) quotedCol(src.name).as(f.name)
          else quotedCol(src.name).cast(f.dataType).as(f.name)
        case Seq() =>
          org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
        case many =>
          throw new IllegalArgumentException(
            s"ambiguous source columns ${many.map(_.name).mkString(", ")} " +
              s"all match table column '${f.name}' case-insensitively — " +
              "rename or drop the duplicates before writing")
      }
    }
    df.select(cols: _*)
  }

  /** Can a value of `from` be cast to `to` without losing information?
    * (The safe-cast lattice of kernel/schema/cast/merge_schema.rs:125.) */
  private def safelyCastable(from: org.apache.spark.sql.types.DataType,
                             to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType, FloatType | DoubleType) => true
      // int32 above 2^24 doesn't fit float32's 24-bit mantissa — same
      // reason Long→Double is rejected below
      case (IntegerType, DoubleType) => true
      case (IntegerType, FloatType) => false
      case (LongType, DoubleType) => false // precision loss beyond 2^53
      case (a: DecimalType, b: DecimalType) =>
        b.precision - b.scale >= a.precision - a.scale && b.scale >= a.scale
      // NO array/struct/map branches here: mergeTypes destructures every
      // same-kind nested pair BEFORE consulting this lattice (its recursion
      // merges rather than answers yes/no), so nested branches here would
      // be dead code — and a stale copy of the rules invites divergence
      case _ => false
    }
  }

  /** Delta-style schema merge for `mergeSchema` writes — field-level union
    * (merge_arrow_schema, kernel/schema/cast/merge_schema.rs:296). The table
    * type wins when the incoming type safely upcasts to it; the table column
    * is widened when the existing type safely upcasts to the incoming one;
    * anything else (narrowing, incompatible) errors rather than silently
    * truncating at write time (merge_schema.rs:125 semantics). */
  def mergeSchemas(table: StructType, incoming: StructType): StructType = {
    // Locale.ROOT, matching equalsIgnoreCase below: a default-locale
    // toLowerCase under tr_TR maps "ID" to dotless-i, so a case-differing
    // incoming column was BOTH merged (equalsIgnoreCase matched) AND
    // appended (the lowercase dedup missed) — a schema with duplicate
    // case-insensitive names that other readers reject outright
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val existing = table.map(f => lc(f.name) -> f).toMap
    val merged = table.map { tf =>
      incoming.find(_.name.equalsIgnoreCase(tf.name)) match {
        case Some(inF) if tf.dataType != inF.dataType =>
          tf.copy(dataType = mergeTypes(tf.name, tf.dataType, inF.dataType))
        case _ => tf
      }
    } ++ incoming.filterNot(f => existing.contains(lc(f.name)))
      .map(f => StructField(f.name, f.dataType, nullable = true, f.metadata))
    StructType(merged)
  }

  /** Field-level type merge: structs recurse (new NESTED fields evolve the
    * schema just like top-level ones — merge_schema.rs merges structs
    * field-wise); scalars follow the safe-cast lattice in both directions;
    * anything else errors rather than silently truncating. */
  private def mergeTypes(
      path: String,
      table: org.apache.spark.sql.types.DataType,
      incoming: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (table, incoming) match {
      case (a, b) if a == b => a
      case (a: StructType, b: StructType) => mergeSchemas(a, b)
      case (ArrayType(ae, an), ArrayType(be, bn)) =>
        ArrayType(mergeTypes(path + ".element", ae, be), an || bn)
      case (MapType(ak, av, an), MapType(bk, bv, bn)) =>
        // merge_schema.rs recurses into map key/value like struct fields
        MapType(mergeTypes(path + ".key", ak, bk),
          mergeTypes(path + ".value", av, bv), an || bn)
      case (a, b) if safelyCastable(b, a) => a
      case (a, b) if safelyCastable(a, b) => b
      case (a, b) => throw new IllegalArgumentException(
        s"Cannot merge schemas: column $path has incompatible types " +
        s"${a.simpleString} (table) vs ${b.simpleString} (data)")
    }
  }
}
