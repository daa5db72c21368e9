package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.DeltaTable

/**
 * Path-based Spark `TableCatalog` over graft Delta tables — the
 * Spark-idiomatic counterpart of the reference's catalog crates
 * (`/root/reference/crates/catalog-glue`, `crates/catalog-unity`): those
 * resolve `database.table` → a table URI through an external metastore;
 * here the metastore is a warehouse directory layout (namespace dirs,
 * one Delta table dir per table), which is what a filesystem/object-store
 * deployment without Glue/Unity uses.
 *
 * Register and use entirely through SQL:
 * {{{
 *   spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
 *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
 *   spark.sql("CREATE TABLE graft.sales.orders (...) PARTITIONED BY (...)")
 *   spark.sql("INSERT INTO graft.sales.orders SELECT ...")
 *   spark.sql("DELETE FROM graft.sales.orders WHERE o_orderkey = 7")
 *   spark.sql("SELECT * FROM graft.sales.orders VERSION AS OF 3")
 * }}}
 *
 * `TBLPROPERTIES` flow into the table's Delta configuration (so
 * `delta.enableChangeDataFeed`, `delta.enableDeletionVectors`, … work from
 * DDL); `location` creates an external table outside the warehouse root.
 *
 * Identifier case: names map byte-for-byte to filesystem paths, so this
 * catalog is case-SENSITIVE (and inherits the underlying filesystem's
 * case behavior), unlike Spark's default case-insensitive analysis —
 * the standard trade of every path-backed catalog. Use consistent casing
 * in DDL and queries.
 */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active

  // cache the cloned Configuration, not the FileSystem: newHadoopConf()
  // CLONES the whole Hadoop configuration (the expensive part — SHOW TABLES
  // over N slots was O(N) conf clones), while FileSystem.get is already
  // cached by Hadoop per (scheme, authority, ugi) and recovers if a handle
  // is closed out from under us (FileSystem.closeAll). Exception: when the
  // deployment DISABLES Hadoop's cache for the warehouse scheme
  // (fs.<scheme>.impl.disable.cache=true, common for credential rotation),
  // every get would construct a fresh never-closed FileSystem — hold one
  // instance ourselves in that case (closeAll doesn't touch uncached
  // handles, so the stale-handle hazard doesn't apply to it).
  @volatile private var cachedConf: org.apache.hadoop.conf.Configuration = _
  @volatile private var uncachedFs: org.apache.hadoop.fs.FileSystem = _
  private def conf0: org.apache.hadoop.conf.Configuration = {
    var conf = cachedConf
    if (conf == null) {
      conf = spark.sessionState.newHadoopConf()
      cachedConf = conf
    }
    conf
  }
  private def fs = {
    val conf = conf0
    val scheme = Option(warehouse.toUri.getScheme).getOrElse("file")
    if (conf.getBoolean(s"fs.$scheme.impl.disable.cache", false)) {
      // double-checked under the catalog's lock: concurrent slot probes
      // (listTables runs isTableSlot on the common pool) must not each
      // construct — and leak, connection pools included — a fresh
      // FileSystem instance that only the last assignment keeps
      if (uncachedFs == null) synchronized {
        if (uncachedFs == null) uncachedFs = warehouse.getFileSystem(conf)
      }
      uncachedFs
    } else warehouse.getFileSystem(conf)
  }

  /** FileSystem for an ARBITRARY path: an external table's LOCATION may
    * live on a different scheme/bucket than the warehouse, and probing it
    * with the warehouse FileSystem throws Hadoop's "Wrong FS". Warehouse-
    * resident paths reuse the (possibly uncached-FS) `fs` path above. */
  private def fsFor(p: Path): org.apache.hadoop.fs.FileSystem = {
    // resolve null schemes against fs.defaultFS before comparing: treating
    // null as a wildcard match routed a concrete-scheme external LOCATION
    // (file:/...) through a schemeless warehouse's default-FS handle on
    // HDFS-defaulted clusters — Hadoop "Wrong FS" on every later probe
    val conf = conf0
    val d = org.apache.hadoop.fs.FileSystem.getDefaultUri(conf)
    def key(u: java.net.URI): (String, String) = (
      Option(u.getScheme).orElse(Option(d.getScheme)).getOrElse("file"),
      Option(u.getAuthority)
        .orElse(if (u.getScheme == null) Option(d.getAuthority) else None)
        .getOrElse(""))
    if (key(p.toUri) == key(warehouse.toUri)) fs
    else p.getFileSystem(conf)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = options.get("warehouse")
    require(wh != null && wh.nonEmpty,
      s"spark.sql.catalog.$name.warehouse must be set to the warehouse root path")
    warehouse = new Path(wh)
    GraftSqlBridge.registerOptimization(spark, graft.sources.GraftScanInlining)
  }

  override def name(): String = catalogName

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)(new Path(_, _))

  /** Warehouse-layout slot for an identifier: either the managed table dir
    * itself, or (external tables) a stub dir holding a location pointer. */
  private def slotPath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), ident.name())

  private val PointerFile = "_graft_location"

  /** The Delta table dir an identifier resolves to: the slot itself for a
    * managed table, or the path recorded in the slot's pointer file for a
    * table created with LOCATION (without the pointer, external tables
    * would be orphaned the moment createTable returned). */
  private def tablePath(ident: Identifier): Path = {
    val slot = slotPath(ident)
    externalLocation(slot).getOrElse(slot)
  }

  private def externalLocation(slot: Path): Option[Path] = {
    val ptr = new Path(slot, PointerFile)
    if (!fs.exists(ptr)) None
    else {
      def readPtr(): String = {
        val in = fs.open(ptr)
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      }
      var content = readPtr()
      // the pointer is claimed with an exclusive create and written
      // immediately after — a concurrent reader can land in that sub-ms
      // window and see zero bytes. Re-read briefly before declaring the
      // pointer torn: transient emptiness is an in-flight CREATE, only
      // PERSISTENT emptiness is a crash.
      var retries = 0
      while (content.isEmpty && retries < 3) {
        try Thread.sleep(50L)
        catch { case _: InterruptedException => Thread.currentThread().interrupt(); retries = 3 }
        retries += 1
        content = readPtr()
      }
      // a torn pointer (crash between create and write) would otherwise
      // surface as new Path("")'s opaque IllegalArgumentException from
      // every SHOW TABLES / loadTable on the namespace — name the slot
      if (content.isEmpty) throw new IllegalStateException(
        s"corrupt external-table pointer $ptr (empty — a crashed CREATE?); " +
          "drop the table identifier to clear it")
      Some(new Path(content))
    }
  }

  private def isTableDir(p: Path): Boolean =
    fsFor(p).exists(new Path(p, "_delta_log"))

  private def hasPointer(slot: Path): Boolean =
    fs.exists(new Path(slot, PointerFile))

  /** A slot is a table if it holds a Delta log (managed — the common case,
    * checked first so it costs one RPC) or a pointer to one (external). */
  private def isTableSlot(slot: Path): Boolean =
    isTableDir(slot) || externalLocation(slot).exists(isTableDir)

  /** A slot is OCCUPIED if it holds a log OR any pointer — including a
    * stale pointer whose target died. Creation must refuse occupied slots
    * and drop must clear them, or a dead external target wedges the
    * identifier forever. */
  private def slotOccupied(slot: Path): Boolean =
    isTableDir(slot) || hasPointer(slot)

  /** True when ANY component of the namespace path is a table slot. The
    * leaf-only checks let multi-level identifiers reach INSIDE a table:
    * `ns.t.year=2024` (a partition dir of table t) classified as a
    * namespace, createTable/renameTable could materialize a table inside
    * another table's tree (where the outer VACUUM deletes the inner's
    * files as unreferenced debris), and DROP NAMESPACE ... CASCADE on a
    * partition dir would delete table data while reporting a namespace
    * drop. Every namespace-classifying entry point routes through this. */
  private def namespaceInsideTable(namespace: Array[String]): Boolean = {
    var p = warehouse
    namespace.exists { seg => p = new Path(p, seg); slotOccupied(p) }
  }

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    // the ROOT namespace exists implicitly even before the warehouse dir
    // is created (listNamespaces on a fresh warehouse returns empty; SHOW
    // TABLES in the default namespace must agree, not throw)
    if (!fs.exists(dir)) {
      if (namespace.isEmpty) return Array.empty
      throw new NoSuchNamespaceException(namespace)
    }
    // a TABLE slot is not a namespace (same rule as loadNamespaceMetadata/
    // dropNamespace), and neither is anything INSIDE one: listing there
    // would expose a table's partition directories as phantom members
    if (namespaceInsideTable(namespace))
      throw new NoSuchNamespaceException(namespace)
    // probes run CONCURRENTLY (common ForkJoin pool): each slot costs 1-2
    // driver-side RPCs, and sequential exists() made SHOW TABLES O(N)
    // round-trip WAVES on object stores
    val dirs = fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
    java.util.Arrays.stream(dirs).parallel()
      .filter(p => isTableSlot(p))
      .map[Identifier](p => Identifier.of(namespace, p.getName))
      .toArray(n => new Array[Identifier](n))
  }

  /** OCCUPANCY, not liveness: a stale external pointer must still count as
    * existing, or `DROP TABLE IF EXISTS` skips the drop and the identifier
    * is wedged forever. loadTable still fails loudly for dead targets. */
  override def tableExists(ident: Identifier): Boolean =
    slotOccupied(slotPath(ident))

  // ---- snapshot cache (the SELECT-path hot spot) ----
  // loadTable previously resolved a FRESH DeltaTable per statement: one
  // Hadoop-conf clone (DeltaLog construction) plus a full log replay
  // (read + JSON-parse of every commit) per SELECT — ~50-85 ms/table of
  // pure metadata work on the bench's catalog.load_100 row. Entries are
  // keyed on the resolved table path and validated per lookup against the
  // _delta_log LISTING SIGNATURE (name, mtime, length of every log file):
  // one listing — which any snapshot load must pay anyway — instead of the
  // whole replay. Staleness rules (each changes the listing, so each
  // invalidates): a new commit (new %020d.json), a checkpoint publication
  // (new checkpoint file + _last_checkpoint rewrite), log compaction, log
  // cleanup (files disappear), DROP + re-CREATE (fresh files with fresh
  // mtimes). VACUUM is NOT a staleness event by design: it deletes only
  // unreferenced data files, never a live file a cached snapshot could
  // serve. On any signature mismatch the entry is REBUILT from scratch
  // (full replay) rather than incrementally refreshed: DeltaLog.update()
  // assumes monotonically growing versions, which a DROP + re-CREATE of
  // the same identifier violates.
  //
  // Timestamp-granularity hazard, closed by the FRESHNESS GUARD below: a
  // scripted DROP + re-CREATE with identical DDL can produce a version-0
  // commit with the SAME name, SAME byte length (fixed-width GUID +
  // timestamps) and — within the store's mtime granularity (ms locally,
  // seconds on some object stores) — the SAME mtime as the file the
  // entry was cached against, and the signature alone would serve the
  // dead table's snapshot. An entry is therefore SERVED only when its
  // newest log mtime is at least SigGraceMs older than the entry's
  // creation: any later recreate gets mtime >= entry-creation time, so a
  // colliding signature can only exist inside that window. Entries cached
  // inside the window act as misses and are re-cached on each load until
  // the table is old enough — the cost is rebuilds for the first ~2s of a
  // brand-new table's life, nothing else.
  //
  // Bounds: LRU, capped by spark.graft.catalog.snapshotCacheSize (default
  // 256 tables; <= 0 disables caching), and the DeltaTable is held through
  // a SoftReference — a snapshot of a large (but under the lazy-index
  // threshold) table can pin up to ~hundreds of MB of AddFile metadata,
  // and under heap pressure the GC reclaims entries, degrading to a
  // rebuild instead of an OOM. (Tables above spark.graft.
  // lazySnapshotThreshold keep their file index parquet-backed and pin
  // almost nothing.)
  private case class CachedTable(
      sig: Vector[(String, Long, Long)],
      newestMtime: Long,
      cachedAtMs: Long,
      ref: java.lang.ref.SoftReference[DeltaTable]) {
    def servable: Boolean = newestMtime <= cachedAtMs - GraftCatalog.SigGraceMs
  }
  private lazy val cacheCap: Int = scala.util.Try(
    spark.conf.get("spark.graft.catalog.snapshotCacheSize").toInt).getOrElse(256)
  private val snapshotCache =
    new java.util.LinkedHashMap[String, CachedTable](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedTable]): Boolean = size() > cacheCap
    }
  private def cacheGet(key: String): Option[CachedTable] =
    snapshotCache.synchronized(Option(snapshotCache.get(key)))
  private def cachePut(key: String, v: CachedTable): Unit =
    if (cacheCap > 0) snapshotCache.synchronized(snapshotCache.put(key, v))
  private def cacheDrop(key: String): Unit =
    snapshotCache.synchronized(snapshotCache.remove(key))

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    val key = p.toString
    val cached = cacheGet(key)
    // freshness listing: reuse the cached DeltaLog when present (its
    // construction cloned the Hadoop conf once) — a stale entry still
    // lists through it fine, the table path is identical
    val cachedTable = cached.flatMap(c => Option(c.ref.get))
    val log = cachedTable.map(_.deltaLog)
      .getOrElse(new graft.kernel.DeltaLog(spark, p))
    val listing = log.store.list(log.logPath)
    val hasLog = listing.exists(f =>
      graft.kernel.LogStore.isLogEntry(f.getPath.getName))
    if (!hasLog) {
      // not a loadable table (anymore): drop any stale entry, then keep the
      // pre-cache semantics exactly — missing _delta_log dir fails HERE,
      // an existing-but-unusable log dir fails on first snapshot use
      cacheDrop(key)
      if (!isTableDir(p)) throw new NoSuchTableException(ident)
      return new GraftTable(spark, ident.toString, p)
    }
    val table = if (cacheCap <= 0) {
      // caching disabled: no signature bookkeeping, one DeltaLog total
      new DeltaTable(spark, p, log)
    } else {
      val sig = listing.iterator
        .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toVector
      val now = System.currentTimeMillis()
      cached match {
        case Some(c) if c.sig == sig && c.servable && cachedTable.isDefined =>
          cachedTable.get
        case _ =>
          val t = new DeltaTable(spark, p, log)
          val newest = if (sig.isEmpty) Long.MaxValue else sig.map(_._2).max
          cachePut(key, CachedTable(sig, newest, now,
            new java.lang.ref.SoftReference(t)))
          t
      }
    }
    new GraftTable(spark, ident.toString, p, preloaded = Some(table))
  }

  /** `VERSION AS OF` time travel through SQL. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    new GraftTable(spark, ident.toString, t.path,
      pinned = Some(t.delta.deltaLog.snapshotAt(version.trim.toLong)))
  }

  /** `TIMESTAMP AS OF` time travel (micros since epoch per the API). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    new GraftTable(spark, ident.toString, t.path,
      pinned = Some(t.delta.deltaLog.snapshotForTimestamp(timestampMicros / 1000L)))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val props = properties.asScala.toMap
    val slot = slotPath(ident)
    val external = props.get(TableCatalog.PROP_LOCATION).map(new Path(_))
    val location = external.getOrElse(slot)
    // a typo'd namespace must fail like every other entry point does, not
    // be silently materialized by the table write; a namespace path passing
    // THROUGH a table slot must fail too — it would nest this table inside
    // another, where the outer table's VACUUM deletes the inner's files
    if (ident.namespace().nonEmpty && !fs.exists(nsPath(ident.namespace())))
      throw new NoSuchNamespaceException(ident.namespace())
    if (namespaceInsideTable(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    if (slotOccupied(slot)) throw new TableAlreadyExistsException(ident)
    // an existing directory at the slot that is NOT an occupied table slot
    // is a NAMESPACE (or foreign data / crashed-CREATE debris) — writing a
    // _delta_log/pointer into it would silently convert it into a table
    // (its children vanish from the namespace listings; DROP TABLE would
    // delete the whole tree, and a namespace-turned-table lets a later
    // CREATE TABLE nest one table INSIDE another, where VACUUM deletes the
    // inner table's files). Namespaces are bare directories with no marker,
    // so an empty dir is indistinguishable from debris — BOTH cases are
    // refused with a dedicated error naming the path and the recovery, NOT
    // TableAlreadyExists (no table exists; the misleading message wedged
    // recovery). Same wholly-absent rule renameTable enforces for its
    // destination.
    if (fs.exists(slot)) {
      val what =
        if (fs.listStatus(slot).nonEmpty)
          "a populated non-table directory (a namespace or foreign data) " +
            "— creating here would swallow its contents into the table; " +
            "drop or move the directory, or choose another identifier"
        else
          "an empty non-table directory (an empty namespace, or debris " +
            "from a crashed earlier CREATE) — if it is debris, remove it " +
            s"(DROP NAMESPACE ${ident.toString}) and retry"
      throw new IllegalStateException(
        s"cannot create table $ident: $slot exists and is $what")
    }
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references()(0).fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft-delta supports identity partitioning only, got: $other")
    }
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION)
    // claim the slot FIRST for external tables: the register branch below
    // commits TBLPROPERTIES/COMMENT to the target Delta table, and the
    // loser of a concurrent CREATE race (or a crash) must fail BEFORE
    // mutating a production table the statement will not own
    external.foreach { ext =>
      fs.mkdirs(slot)
      // overwrite = false: two concurrent CREATEs of the same identifier
      // must not resolve by silent last-writer-wins pointer loss
      val out =
        try fs.create(new Path(slot, PointerFile), false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            throw new TableAlreadyExistsException(ident)
        }
      try out.write(ext.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    try {
    if (external.isDefined && isTableDir(location)) {
      // REGISTER pre-existing external Delta data under the identifier —
      // the primary external-table use case. The declared schema must be
      // empty (CREATE TABLE ident LOCATION '...') or match the table's.
      val existing = DeltaTable.forPath(spark, location.toString)
      require(schema.isEmpty ||
        schema.map(f => (f.name, f.dataType)) ==
          existing.schema.map(f => (f.name, f.dataType)),
        s"declared schema does not match the Delta table at $location")
      require(partCols.isEmpty || partCols == existing.partitionColumns,
        s"declared partitioning $partCols does not match ${existing.partitionColumns}")
      // TBLPROPERTIES on a register must still land in the table's Delta
      // configuration (class contract) — silently dropping them would e.g.
      // leave CDF unenabled while the statement succeeded
      val cfg = props -- reserved
      if (cfg.nonEmpty) existing.setProperties(cfg)
      // COMMENT must land like the create branch records description —
      // the register path silently dropped it
      props.get(TableCatalog.PROP_COMMENT).foreach(c =>
        existing.updateTableMetadata(name = None, description = Some(c)))
    } else {
      // CREATE ... LOCATION on a location with no Delta table and no
      // declared columns is a registration typo, not a zero-column table
      require(schema.nonEmpty,
        s"no Delta table found at $location and no columns declared — " +
          "check the LOCATION, or declare a schema to create a new table")
      // the slot-side conversion guard, applied to the LOCATION side: a
      // populated non-Delta directory (a namespace, foreign data, another
      // table's interior) must not be silently converted into a table —
      // its contents would vanish from listings and VACUUM on the new
      // table would delete them as unreferenced debris
      if (external.isDefined) {
        val lfs = fsFor(location)
        if (lfs.exists(location) && lfs.listStatus(location).nonEmpty)
          throw new IllegalStateException(
            s"cannot create table $ident at LOCATION $location: the " +
              "directory is populated but holds no Delta table — creating " +
              "here would swallow its contents; use convert_to_delta to " +
              "adopt existing parquet data, or choose an empty location")
        // and no ANCESTOR may be a Delta table: an absent/empty location
        // inside another table's tree would nest this table there, where
        // the outer table's VACUUM deletes its files as unreferenced
        var anc = location.getParent
        while (anc != null) {
          if (isTableDir(anc)) throw new IllegalStateException(
            s"cannot create table $ident at LOCATION $location: it lies " +
              s"inside the Delta table at $anc — VACUUM on that table " +
              "would delete this table's files; choose a location outside")
          anc = anc.getParent
        }
      }
      DeltaTable.create(spark, location.toString, schema,
        partitionColumns = partCols,
        configuration = props -- reserved,
        name = Some(ident.name()),
        description = props.get(TableCatalog.PROP_COMMENT))
    }
    } catch {
      case e: Throwable =>
        // un-claim: a failed CREATE must not leave a pointer to a table
        // the statement never finished setting up — and the slot dir was
        // created by THIS statement (the exists-guard above refused any
        // pre-existing dir), so remove it too or every corrected retry
        // hits the empty-non-table-directory refusal forever.
        // Non-recursive delete: if a concurrent writer put anything else
        // in the slot, leave it alone.
        external.foreach { _ =>
          scala.util.Try(fs.delete(new Path(slot, PointerFile), false))
          scala.util.Try(fs.delete(slot, false))
        }
        throw e
    }
    new GraftTable(spark, ident.toString, location)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = loadTable(ident).asInstanceOf[GraftTable]
    // reserved v2 metadata keys (the createTable strip-set minus comment,
    // which IS supported): SET ('location'/'provider'/...) must fail
    // loudly, not be committed as an inert Delta property the statement
    // then reports as success — ALTER TABLE SET LOCATION would "succeed"
    // while the table never moves, and GraftTable.properties() shadows
    // the bogus entry with the real path, hiding the lie from DESCRIBE
    changes.foreach {
      case s: TableChange.SetProperty
          if s.property != TableCatalog.PROP_COMMENT &&
            Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
              TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
              TableCatalog.PROP_IS_MANAGED_LOCATION).contains(s.property) =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE SET ('${s.property}') is not supported by " +
            "graft-delta: reserved table metadata, not a table property")
      case _ =>
    }
    val setProps = changes.collect {
      case s: TableChange.SetProperty
          if s.property != TableCatalog.PROP_COMMENT => s.property -> s.value
    }
    // ADD COLUMNS lands as ONE commit — one commit per column would leave a
    // half-applied DDL statement if a later column's commit conflicts
    val addCols = changes.collect {
      case a: TableChange.AddColumn if a.fieldNames.length == 1 =>
        // COMMENT rides into field metadata; a position clause must fail
        // loudly like every other unsupported change, not be silently
        // ignored while the statement reports success
        if (a.position() != null) throw new UnsupportedOperationException(
          "ADD COLUMN ... FIRST/AFTER is not supported by graft-delta " +
            "(columns append at the end)")
        val base = org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), a.isNullable)
        Option(a.comment()).fold(base)(base.withComment)
    }
    val comment = changes.collect {
      case s: TableChange.SetProperty if s.property == TableCatalog.PROP_COMMENT =>
        s.value
    }.lastOption
    changes.foreach {
      case _: TableChange.SetProperty => // batched
      case a: TableChange.AddColumn if a.fieldNames.length == 1 => // batched above
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported by graft-delta: $other")
    }
    // ONE commit for the whole statement: comment + columns + properties
    // applied separately left a mid-statement conflict half-applied (the
    // comment durably set while a property never landed)
    t.delta.alterCombined(StructType(addCols), setProps.toMap, comment)
    loadTable(ident)
  }

  /** Deletes the warehouse slot: the table dir for managed tables, only
    * the pointer stub for external ones (standard external-table DROP
    * semantics — the data outside the warehouse is left in place). Gated
    * on OCCUPANCY, not liveness: a stale pointer to dead external data
    * must be droppable too. */
  override def dropTable(ident: Identifier): Boolean = {
    val slot = slotPath(ident)
    if (!slotOccupied(slot)) false
    else {
      cacheDrop(tablePath(ident).toString) // don't pin a dead snapshot
      fs.delete(slot, true)
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = slotPath(oldIdent)
    val to = slotPath(newIdent)
    if (!isTableSlot(from)) throw new NoSuchTableException(oldIdent)
    if (slotOccupied(to)) throw new TableAlreadyExistsException(newIdent)
    // an existing EMPTY directory at the destination (e.g. a namespace of
    // that name) would make fs.rename move the table INSIDE it — the slot
    // must be wholly absent, not merely unoccupied
    if (fs.exists(to)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.exists(to.getParent)) throw new NoSuchNamespaceException(newIdent.namespace())
    // destination namespace passing through a table slot = renaming the
    // table INSIDE another table (same hazard as createTable's guard)
    if (namespaceInsideTable(newIdent.namespace()))
      throw new NoSuchNamespaceException(newIdent.namespace())
    val oldKey = tablePath(oldIdent).toString
    // safe for Delta tables: add.path entries are table-root-relative, and
    // an external slot carries only its pointer file
    require(fs.rename(from, to), s"rename $from -> $to failed")
    // both paths leave the cache, as in dropTable: fs.rename keeps the
    // moved log's mtimes, so an entry left at `to` would pass the freshness
    // guard and could serve the table that used to live there
    cacheDrop(oldKey)
    cacheDrop(to.toString)
  }

  // ---- namespaces ----

  // namespace classification filters on OCCUPANCY (slotOccupied), matching
  // tableExists — a stale external-pointer slot must not be reported as a
  // namespace while simultaneously counting as an existing table
  override def listNamespaces(): Array[Array[String]] =
    if (!fs.exists(warehouse)) Array.empty
    else fs.listStatus(warehouse).filter(_.isDirectory).map(_.getPath)
      .filterNot(slotOccupied)
      .map(p => Array(p.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) {
      if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
      return Array.empty // fresh warehouse root: no namespaces yet
    }
    if (namespaceInsideTable(namespace))
      throw new NoSuchNamespaceException(namespace) // a table is not a namespace
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filterNot(slotOccupied)
      .map(p => namespace :+ p.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir) || namespaceInsideTable(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map("location" -> dir.toString).asJava
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    // a path-warehouse namespace stores no properties: silently dropping
    // WITH DBPROPERTIES / COMMENT would report success while discarding
    // them — fail loudly like alterNamespace does (PROP_OWNER is
    // auto-added by Spark on plain CREATE NAMESPACE and is exempt)
    val unsupported = metadata.keySet().toArray(Array.empty[String])
      .filterNot(_ == SupportsNamespaces.PROP_OWNER)
    if (unsupported.nonEmpty)
      throw new UnsupportedOperationException(
        s"CREATE NAMESPACE properties not supported by graft-delta " +
          s"(path-warehouse namespaces store none): ${unsupported.mkString(", ")}")
    val dir = nsPath(namespace)
    if (fs.exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(namespace)
    // a typo'd parent must fail like createTable's namespace check does —
    // mkdirs would otherwise silently materialize the whole wrong chain
    if (namespace.length > 1) {
      val parent = nsPath(namespace.dropRight(1))
      // every COMPONENT, not just the leaf parent: a deep identifier whose
      // prefix passes through a table (ns.t.`year=2024`.stash) would
      // otherwise mkdirs inside the table's tree — invisible, undroppable,
      // and VACUUM-deletable debris
      if (!fs.exists(parent) || namespaceInsideTable(namespace.dropRight(1)))
        throw new NoSuchNamespaceException(namespace.dropRight(1))
    }
    fs.mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported by graft-delta")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) false
    else {
      // same occupancy rule as loadNamespaceMetadata: a TABLE slot is not
      // a namespace — DROP NAMESPACE ... CASCADE on a table identifier
      // (or on a partition dir INSIDE one) would otherwise delete table
      // data and report a namespace drop
      if (namespaceInsideTable(namespace)) throw new NoSuchNamespaceException(namespace)
      if (!cascade) require(fs.listStatus(dir).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      fs.delete(dir, true)
    }
  }
}

object GraftCatalog {
  /** Snapshot-cache freshness guard (ms): an entry is SERVED only when its
    * newest log-file mtime is at least this much older than the entry's
    * creation time, closing the same-tick DROP + re-CREATE signature
    * collision (see the cache comment in [[GraftCatalog]]). 2s covers
    * second-granularity object-store timestamps. */
  private[catalog] val SigGraceMs: Long = 2000L
}
