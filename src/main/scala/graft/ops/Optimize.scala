package graft.ops

import org.apache.spark.sql.functions._

import graft.kernel._
import graft.table.{DeltaTable, DeltaWriter, Scan}

/**
 * OPTIMIZE — compaction bin-packs small files per partition into
 * `targetSize` bins (delta-rs `operations/optimize.rs:266-268`
 * OptimizeType::Compact, bin planning :535,1023-1279); Z-ORDER computes an
 * interleaved-bit clustering key and range-repartitions by it
 * (optimize.rs:270 + ZOrderUDF :1560-1590). Both commit `dataChange=false`
 * remove+add pairs so streams/CDF see no logical change.
 */
object OptimizeOp {

  /** Concurrency probe: tracks simultaneous bin rewrites so a spec can
    * assert the maxConcurrentTasks bound actually holds. */
  private val active = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val maxObservedConcurrentBins = new java.util.concurrent.atomic.AtomicInteger(0)
  private def binProbe(): Unit = {
    val n = active.incrementAndGet()
    maxObservedConcurrentBins.updateAndGet(m => math.max(m, n))
  }
  private def binDone(): Unit = active.decrementAndGet()

  /** Test seam: runs immediately before each incremental-commit chunk
    * transaction is created — lets a spec land a CONCURRENT commit between
    * bin planning and the chunk commit deterministically. */
  private[graft] var onBeforeChunkCommit: () => Unit = () => ()

  def compact(
      table: DeltaTable,
      targetSize: Long,
      predicate: Option[String],
      minCommitInterval: Option[Long] = None): Map[String, String] = {
    require(targetSize > 0, s"OPTIMIZE: targetSize must be > 0, got $targetSize")
    // validated up front, not call-shape-dependent: the empty-bins path
    // commits the parameters durably and previously let a negative
    // interval through while the with-bins path threw
    minCommitInterval.foreach(ms => require(ms >= 0,
      s"minCommitInterval must be >= 0, got $ms"))
    val spark = table.spark
    val snapshot = table.refresh()
    // NOTE: created here but USED only by the empty-bins and whole-commit
    // paths — incremental-commit mode builds its own per-chunk transactions
    // pinned to this planning snapshot (see below); pinned like every op
    val txn = table.startTransaction(snapshot)

    // bin planning needs only the below-target files: on a lazy (huge-table)
    // snapshot the size filter runs distributed over the checkpoint parquet,
    // so a mostly-compacted table never materializes its full Add index here
    val candidates = predicate match {
      case Some(p) =>
        val e = Scan.parsePredicate(spark, p)
        require(StatsPruning.isPartitionOnly(snapshot.schema, e, snapshot.partitionColumns),
          "OPTIMIZE predicate must reference only partition columns")
        Scan.prunedFiles(snapshot, Seq(e)).filter(_.size < targetSize)
      case None => snapshot.filesSmallerThan(targetSize)
    }

    // bin-pack per partition
    val byPartition = candidates.groupBy(_.partitionValues)
    val bins: Seq[Seq[AddFile]] = byPartition.values.flatMap { files =>
      val sorted = files.sortBy(-_.size)
      // running total per bin — re-summing the bin inside every probe made
      // packing O(bins × files × bin-size) driver CPU, minutes of stall on
      // the many-small-files partitions OPTIMIZE exists for
      val acc = scala.collection.mutable.ArrayBuffer[
        (scala.collection.mutable.ArrayBuffer[AddFile], Long)]()
      sorted.foreach { f =>
        acc.indexWhere { case (_, sz) => sz + f.size <= targetSize } match {
          case -1 => acc += ((scala.collection.mutable.ArrayBuffer(f), f.size))
          case i =>
            val (b, sz) = acc(i)
            b += f
            acc(i) = (b, sz + f.size)
        }
      }
      acc.collect { case (b, _) if b.size >= 2 => b.toSeq }
    }.toSeq

    if (bins.isEmpty) {
      val metrics = Map("num_files_added" -> "0", "num_files_removed" -> "0",
        "partitions_optimized" -> "0", "total_considered_files" -> candidates.size.toString,
        "total_files_skipped" -> candidates.size.toString) ++
        // incremental mode promises a num_commits key — the empty path
        // commits exactly the one no-op OPTIMIZE record below
        minCommitInterval.map(_ => "num_commits" -> "1")
      // same parameter shape as every other OPTIMIZE commit (opParams):
      // history consumers must not see two shapes for one operation, and
      // the predicate that scoped the run belongs in the durable log
      table.commitAndRefresh(txn, Nil, Operation("OPTIMIZE",
        Map("targetSize" -> targetSize.toString,
          "predicate" -> predicate.map(p => s"[$p]").getOrElse("[]")) ++
          minCommitInterval.map(ms => "minCommitInterval" -> s"${ms}ms"), metrics))
      return metrics
    }

    // the outer transaction's read set feeds ONLY the whole-commit path;
    // incremental chunks record their own per-chunk read sets on their own
    // pinned transactions (the outer txn is never committed there)
    minCommitInterval match {
      case None => txn.readFile(bins.flatten.map(_.path))
      case Some(_) =>
    }

    // each bin rewrites independently as its own Spark job, with concurrency
    // bounded by spark.graft.optimize.maxConcurrentTasks (the reference's
    // optimize.rs `max_concurrent_tasks`, default num_cpus) — an unbounded
    // .par over hundreds of bins would flood a busy scheduler with
    // one-task jobs
    val maxTasks = spark.conf.getOption("spark.graft.optimize.maxConcurrentTasks")
      .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    require(maxTasks >= 1, s"maxConcurrentTasks must be >= 1, got $maxTasks")
    // a fixed thread pool, NOT a ForkJoinPool: the bin body blocks on Spark
    // job completion, and FJ compensation threads would silently exceed the
    // parallelism bound (observed 6 concurrent bins at parallelism 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxTasks)
    def rewriteBin(bin: Seq[AddFile]): (Seq[AddFile], Seq[AddFile]) = {
      OptimizeOp.binProbe()
      try {
        val df = Scan.readFiles(spark, snapshot, bin).coalesce(1)
        val adds = DeltaWriter.writeFiles(spark, table.tablePath, df,
          snapshot.partitionColumns, WriteIntoDelta.numIndexedCols(snapshot.metadata),
          meta = Some(snapshot.metadata))
        (bin, adds.map(_.copy(dataChange = false)))
      } finally OptimizeOp.binDone()
    }
    def opParams = Map("targetSize" -> targetSize.toString,
      "predicate" -> predicate.map(p => s"[$p]").getOrElse("[]")) ++
      minCommitInterval.map(ms => "minCommitInterval" -> s"${ms}ms")
    def chunkMetrics(removed: Int, added: Int, parts: Int) = Map(
      "num_files_added" -> added.toString,
      "num_files_removed" -> removed.toString,
      "partitions_optimized" -> parts.toString,
      "total_considered_files" -> candidates.size.toString,
      "total_files_skipped" -> (candidates.size - removed).toString)

    minCommitInterval match {
      case None =>
        val results: Seq[(Seq[AddFile], Seq[AddFile])] =
          try {
            val futures = bins.map { bin =>
              pool.submit(new java.util.concurrent.Callable[(Seq[AddFile], Seq[AddFile])] {
                def call(): (Seq[AddFile], Seq[AddFile]) = rewriteBin(bin)
              })
            }
            try futures.map(_.get())
            catch {
              case e: java.util.concurrent.ExecutionException =>
                // surface the bin's own failure (matching the .par behavior this
                // pool replaced) and stop burning cluster time on the other bins
                futures.foreach(_.cancel(true))
                throw Option(e.getCause).getOrElse(e)
            }
          } finally pool.shutdownNow()

        val now = System.currentTimeMillis()
        val removes = results.flatMap(_._1).map(_.remove(now, dataChange = false))
        val adds = results.flatMap(_._2)
        val metrics = chunkMetrics(removes.size, adds.size,
          bins.map(_.head.partitionValues).distinct.size)
        table.commitAndRefresh(txn, removes ++ adds,
          Operation("OPTIMIZE", opParams, metrics))
        metrics

      case Some(intervalMs) =>
        // Incremental-commit mode (optimize.rs `min_commit_interval`,
        // :388-437): completed bins are committed whenever `intervalMs` has
        // elapsed since the last commit, so on a 100 TB table a days-long
        // compaction durably banks its progress — a crash loses at most one
        // interval of rewrites (the uncommitted parquet debris is reclaimed
        // by VACUUM/write-failure hygiene), and concurrent readers see
        // files shrink commit by commit instead of one giant swap. Each
        // chunk is its own transaction over disjoint bins, dataChange=false
        // throughout, so streams/CDF still see no logical change.
        require(intervalMs >= 0, s"minCommitInterval must be >= 0, got $intervalMs")
        val ecs = new java.util.concurrent.ExecutorCompletionService[
          (Seq[AddFile], Seq[AddFile])](pool)
        var totalRemoved, totalAdded, nCommits = 0
        val ownCommitted = scala.collection.mutable.Set[Long]()
        val partsDone = scala.collection.mutable.Set[Map[String, String]]()
        try {
          val futures = bins.map(bin =>
            ecs.submit(new java.util.concurrent.Callable[(Seq[AddFile], Seq[AddFile])] {
              def call(): (Seq[AddFile], Seq[AddFile]) = rewriteBin(bin)
            }))
          val pending = scala.collection.mutable.ArrayBuffer[(Seq[AddFile], Seq[AddFile])]()
          def commitChunk(): Unit = {
            val now = System.currentTimeMillis()
            val removes = pending.toSeq.flatMap(_._1).map(_.remove(now, dataChange = false))
            val adds = pending.toSeq.flatMap(_._2)
            val chunkParts = pending.map(_._1.head.partitionValues).toSet
            partsDone ++= chunkParts
            totalRemoved += removes.size; totalAdded += adds.size; nCommits += 1
            // fresh transaction per chunk, PINNED TO THE PLANNING SNAPSHOT:
            // bins were read at `snapshot`, so the conflict checker must
            // replay every commit landed since then against this chunk's
            // read set — a transaction started from the post-refresh
            // snapshot would skip an external DELETE of a bin file and
            // silently resurrect its rows. Our own earlier chunks are
            // known-disjoint (each bin commits once), so they're declared
            // via assumeOwnCommits: the commit loop skips re-reading them
            // and starts its attempt cursor above them — without that, chunk
            // k replayed all k-1 earlier own commits (O(chunks^2) commit
            // reads over a long compaction) and walked the ghost-commit
            // path on a guaranteed version collision every chunk.
            OptimizeOp.onBeforeChunkCommit()
            val chunkTxn = new OptimisticTransaction(table.deltaLog, Some(snapshot))
            chunkTxn.assumeOwnCommits(ownCommitted.toSet)
            chunkTxn.readFile(pending.toSeq.flatMap(_._1).map(_.path))
            // per-commit metrics describe THIS commit only (the durable
            // history must not repeat global totals per chunk): considered =
            // the chunk's own files, nothing skipped within a chunk
            ownCommitted += table.commitAndRefresh(chunkTxn, removes ++ adds,
              Operation("OPTIMIZE", opParams, Map(
                "num_files_added" -> adds.size.toString,
                "num_files_removed" -> removes.size.toString,
                "partitions_optimized" -> chunkParts.size.toString,
                "total_considered_files" -> removes.size.toString,
                "total_files_skipped" -> "0")))
            pending.clear()
          }
          var lastCommit = System.currentTimeMillis()
          try {
            bins.indices.foreach { _ =>
              pending += ecs.take().get()
              if (System.currentTimeMillis() - lastCommit >= intervalMs) {
                commitChunk()
                lastCommit = System.currentTimeMillis()
              }
            }
          } catch {
            case e: java.util.concurrent.ExecutionException =>
              futures.foreach(_.cancel(true))
              throw Option(e.getCause).getOrElse(e)
          }
          if (pending.nonEmpty) commitChunk()
        } finally pool.shutdownNow()
        chunkMetrics(totalRemoved, totalAdded, partsDone.size) +
          ("num_commits" -> nCommits.toString)
    }
  }

  def zorder(
      table: DeltaTable,
      columns: Seq[String],
      targetSize: Long,
      predicate: Option[String] = None): Map[String, String] = {
    require(targetSize > 0, s"Z-ORDER: targetSize must be > 0, got $targetSize")
    val spark = table.spark
    val snapshot = table.refresh()
    require(columns.nonEmpty, "Z-ORDER requires at least one column")
    columns.foreach { c =>
      require(snapshot.schema.fieldNames.contains(c), s"Unknown Z-ORDER column: $c")
      require(!snapshot.partitionColumns.contains(c),
        s"Z-ORDER column $c is a partition column (optimize.rs:1287 validation)")
    }
    val txn = table.startTransaction(snapshot)
    // partition-scoped Z-ORDER (OptimizeBuilder.with_filters applies to both
    // optimize types): cluster only the selected partitions' files
    val files = predicate match {
      case Some(p) =>
        val e = Scan.parsePredicate(spark, p)
        require(StatsPruning.isPartitionOnly(snapshot.schema, e, snapshot.partitionColumns),
          "OPTIMIZE predicate must reference only partition columns")
        txn.readPredicate(e)
        Scan.prunedFiles(snapshot, Seq(e))
      case None =>
        txn.readWholeTable()
        snapshot.allFiles
    }
    if (files.isEmpty) return Map("num_files_added" -> "0", "num_files_removed" -> "0")
    txn.readFile(files.map(_.path))

    val totalSize = files.map(_.size).sum
    val numOut = math.max(1, math.ceil(totalSize.toDouble / targetSize).toInt)

    val df = Scan.readFiles(spark, snapshot, files)
    // literal attribute refs (a dotted logical name must not parse as a
    // struct path), and a temp key column name guaranteed free under
    // case-insensitive resolution: withColumn REPLACES case-insensitively,
    // so a user column named __zkey (or any case variant) would be
    // silently overwritten, dropped, and lost from the rewritten files
    val zcols = columns.map(org.apache.spark.sql.GraftSqlBridge.attr)
    val zkey = graft.functions.ZOrder.zorderKey(zcols: _*)
    var zname = "__zkey"
    while (snapshot.schema.fieldNames.exists(_.equalsIgnoreCase(zname))) zname += "_"
    val clustered = df.withColumn(zname, zkey)
      .repartitionByRange(numOut, col(zname))
      .sortWithinPartitions(zname)
      .drop(zname)
    val adds = DeltaWriter.writeFiles(spark, table.tablePath, clustered,
      snapshot.partitionColumns, WriteIntoDelta.numIndexedCols(snapshot.metadata),
      meta = Some(snapshot.metadata))
      .map(_.copy(dataChange = false, clusteringProvider = Some("zorder")))

    val now = System.currentTimeMillis()
    val removes = files.map(_.remove(now, dataChange = false))
    val metrics = Map(
      "num_files_added" -> adds.size.toString,
      "num_files_removed" -> removes.size.toString,
      "zorder_columns" -> columns.mkString(","))
    table.commitAndRefresh(txn, removes ++ adds,
      // same durable parameter shape as compact (predicate included):
      // history consumers must be able to tell a partition-scoped
      // clustering from a full-table one
      Operation("OPTIMIZE", Map(
        "zOrderBy" -> columns.mkString("[", ",", "]"),
        "targetSize" -> targetSize.toString,
        "predicate" -> predicate.map(p => s"[$p]").getOrElse("[]")), metrics))
    metrics
  }
}
