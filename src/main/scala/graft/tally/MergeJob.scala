package graft.tally

import graft.operators.Cdc
import graft.operators.Warehouse.deleteRec
import graft.sources.TableSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse abstraction the incremental sync merges into: parquet
  * tables in production, an in-memory map in scenario tests. */
trait Warehouse {
  def read(table: String): DataFrame
  def write(table: String, df: DataFrame): Unit
  def exists(table: String): Boolean

  /** Apply `transform` to the table, restricted (when the backend
    * supports partition-level replacement) to the partitions holding
    * `keys` — the merge job's contract for every incremental
    * write-back. `transform` must be row-local and identity on
    * unaffected rows (anti-join delete, union-append, join-refresh all
    * are), so the default full-table rewrite is always correct and
    * partitioned backends can rewrite only the affected slice. A
    * composition of such transforms, passed with the union of their
    * key sets, meets the same contract: the merge stages its steps'
    * write-backs and hands each table over in one call. */
  def rewritePartitions(table: String, keys: DataFrame,
      transform: DataFrame => DataFrame): Unit =
    write(table, transform(read(table)))
}

/** Parquet warehouse with write-new-then-swap so an in-flight read of
  * the old snapshot never races the overwrite (Spark's overwrite mode
  * deletes target files before the plan finishes reading them). */
final class ParquetWarehouse(spark: SparkSession, dir: String) extends Warehouse {
  private def path(t: String) = s"$dir/$t"
  def read(table: String): DataFrame = spark.read.parquet(path(table))
  def exists(table: String): Boolean =
    new java.io.File(path(table)).exists()
  /** Each swap step is a `Files.move`, which throws on failure: a
    * failed swap fails the write before the old copy is deleted. */
  def write(table: String, df: DataFrame): Unit = {
    val tmp = java.nio.file.Paths.get(path(table) + ".tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    val target = new java.io.File(path(table))
    if (target.exists()) {
      val old = new java.io.File(path(table) + ".old")
      deleteRec(old)
      java.nio.file.Files.move(target.toPath, old.toPath)
      java.nio.file.Files.move(tmp, target.toPath)
      deleteRec(old)
    } else java.nio.file.Files.move(tmp, target.toPath)
  }
}

/** Parquet warehouse with HASH-partitioned tables (`_pt =
  * pmod(xxhash64(key), buckets)`) and partition-level incremental
  * rewrites: [[rewritePartitions]] replaces ONLY the partitions whose
  * bucket holds an affected key — untouched partitions carry over into
  * the new snapshot as hard links (same inodes, zero data copy), so
  * their files are never rewritten (SURVEY §7.1's "partition-overwrite
  * semantics"; a full sync still rewrites whole tables through
  * [[write]]). Tables lacking the key column (pure dims like
  * mst_vouchertype) store unpartitioned and fall back to full rewrite.
  * Both [[write]] and [[rewritePartitions]] exchange rows on the
  * bucket id before the partitioned write, so every `_pt=<bucket>`
  * directory holds exactly one parquet file: a rewrite replaces one
  * file per touched bucket, and the retained predecessor version
  * shares every other file by hard link. The price is write
  * parallelism: each bucket is written by ONE task, so `buckets` caps
  * the tasks of a full [[write]], and a rewrite runs one task per
  * touched bucket. The bucket count has to grow with the table (size
  * it so one bucket is one reasonably sized file, e.g. ~128–512 MB);
  * at the default 64 buckets the layout suits tables of tens of GB,
  * not a cluster-scale warehouse.
  *
  * Concurrency contract: SINGLE WRITER, CONCURRENT READERS SAFE.
  * Every commit is snapshot-isolated: data lives in immutable version
  * directories (`<table>/v0`, `v1`, …) and a `CURRENT` pointer file
  * names the live one. A write stages the next version completely,
  * then publishes it with one atomic rename of the pointer — a reader
  * resolving [[read]] mid-rewrite sees either the old or the new
  * snapshot, never a torn mix or a vanished file (the failure mode of
  * in-place dynamic partition overwrite). Retention: the previous
  * version is kept so in-flight reads of the prior snapshot finish;
  * older versions are garbage-collected at publish. A read plan held
  * across TWO subsequent commits can lose its files — re-resolve
  * [[read]] per query (the reference's loader has the same contract:
  * its target database snapshots per-statement,
  * src/database.mts:170-210). The same version/pointer protocol
  * works on any posix-rename DFS, with the bucket count sized as
  * above; on S3-like stores swap the pointer file for a small
  * transaction log (what Delta/Iceberg do) — the reader/writer
  * protocol here is deliberately that shape. */
final class PartitionedParquetWarehouse(spark: SparkSession, dir: String,
    keyCol: String = "guid", buckets: Int = 64,
    retainVersions: Int = 2) extends Warehouse {
  require(retainVersions >= 2,
    "retainVersions < 2 would GC the snapshot an in-flight reader resolved")
  private val PtCol = "_pt"
  private def tableDir(t: String) = new java.io.File(dir, t)
  private def pointer(t: String) = new java.io.File(tableDir(t), "CURRENT")
  private def pt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(c), lit(buckets.toLong))

  private def currentVersion(t: String): Option[String] = {
    val p = pointer(t)
    if (!p.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(p.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim)
  }

  /** Absolute path of the LIVE snapshot directory — what a reader
    * resolves; exposed so tests/ops can inspect the physical layout
    * (partition dirs live under it as `_pt=<bucket>`). */
  def currentPath(table: String): String =
    currentVersion(table)
      .map(v => new java.io.File(tableDir(table), v).getPath)
      .getOrElse(tableDir(table).getPath)

  def exists(table: String): Boolean = tableDir(table).exists()

  def read(table: String): DataFrame = {
    val df = spark.read.parquet(currentPath(table))
    if (df.columns.contains(PtCol)) df.drop(PtCol) else df
  }

  private def nextVersion(t: String): String =
    "v" + (currentVersion(t).map(_.drop(1).toLong).getOrElse(-1L) + 1L)

  /** Atomic pointer flip + retention GC. The rename is the commit
    * point; everything before it is invisible to readers. */
  private def publish(t: String, v: String): Unit = {
    val tmp = new java.io.File(tableDir(t), "CURRENT.tmp")
    java.nio.file.Files.write(tmp.toPath,
      v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, pointer(t).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // keep v (live) plus retainVersions-1 predecessors; drop older
    val keepFrom = v.drop(1).toLong - (retainVersions - 1L)
    Option(tableDir(t).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        f.getName.drop(1).toLong < keepFrom)
      .foreach(deleteRec)
  }

  /** Hard-link `src`'s tree under `dst` — carries an untouched
    * partition into the next snapshot without copying data. */
  private def linkTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty)
        .foreach(f => linkTree(f, new java.io.File(dst, f.getName)))
    } else {
      java.nio.file.Files.createLink(dst.toPath, src.toPath)
      ()
    }
  }

  /** One exchange on the bucket id, so each bucket is one task and
    * comes out as one file. */
  private def writeBuckets(df: DataFrame, out: String): Unit =
    df.withColumn(PtCol, pt(col(keyCol))).repartition(col(PtCol))
      .write.mode("overwrite").partitionBy(PtCol).parquet(out)

  def write(table: String, df: DataFrame): Unit = {
    tableDir(table).mkdirs()
    val v = nextVersion(table)
    val out = new java.io.File(tableDir(table), v).getPath
    if (df.columns.contains(keyCol)) writeBuckets(df, out)
    else df.write.mode("overwrite").parquet(out)
    publish(table, v)
  }

  override def rewritePartitions(table: String, keys: DataFrame,
      transform: DataFrame => DataFrame): Unit = {
    val curPath = currentPath(table)
    val raw = spark.read.parquet(curPath)
    if (!raw.columns.contains(PtCol)) {
      // unpartitioned table: full rewrite. The source version dir is
      // immutable (write targets a NEW version; retention keeps the
      // predecessor), so the lazy plan needs no checkpoint.
      write(table, transform(read(table)))
      return
    }
    val keyName = keys.columns.head
    // affected bucket ids — at most `buckets` values, driver-safe
    val pts = keys.select(pt(col(keyName)).cast("long").as(PtCol))
      .distinct().collect().map(_.getLong(0)).toSet
    if (pts.isEmpty) return
    val affected = raw.filter(col(PtCol).isin(pts.toSeq: _*)).drop(PtCol)
    val newV = nextVersion(table)
    val newDir = new java.io.File(tableDir(table), newV)
    // stage 1: write the rebuilt slice into the NEW version dir. The
    // merge contract guarantees rebuilt rows' keys ⊆ `keys`, so every
    // output partition is one of `pts`; a partition emptied by the
    // transform simply never appears. Source files are immutable, so
    // no pre-write materialization is needed.
    writeBuckets(transform(affected), newDir.getPath)
    // stage 2: carry untouched partitions over as hard links
    Option(new java.io.File(curPath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$PtCol=") &&
        !pts.contains(f.getName.stripPrefix(s"$PtCol=").toLong))
      .foreach(f => linkTree(f, new java.io.File(newDir, f.getName)))
    // stage 3: atomic publish — the only instant readers can observe
    publish(table, newV)
  }
}

final class MemoryWarehouse extends Warehouse {
  private val tables = scala.collection.mutable.Map[String, DataFrame]()
  def read(table: String): DataFrame = tables(table)
  def exists(table: String): Boolean = tables.contains(table)
  def write(table: String, df: DataFrame): Unit =
    // localCheckpoint: materialize so later writes of upstream tables
    // can't change this snapshot through lazy lineage
    tables(table) = df.localCheckpoint(eager = true)
}

/** What the merge pulls from Tally (SURVEY §2.1 S17/S18 + §2.3):
  * watermark probes, light (guid, alterid) diff snapshots, filtered
  * incremental row extracts, and the voucher-number re-pull. Tests
  * implement this over in-memory snapshots; production backs it with
  * [[graft.sources.TallyXml.extract]] + [[graft.sources.TallyHttp]]. */
trait TallySource {
  def lastAlterIdMaster: Long
  def lastAlterIdTransaction: Long
  /** Current (guid, alterid) pairs for a primary table. */
  def diffSnapshot(spec: TableSpec): DataFrame
  /** Full rows with alterid > since (the injected `$AlterID > n`
    * filter, src/tally.mts:194-197). */
  def incrementalRows(spec: TableSpec, since: Long): DataFrame
  /** (guid, voucher_number) for auto-numbered voucher types
    * (src/tally.mts:262-291). */
  def voucherNumbers(): DataFrame
}

final case class SyncReport(
    masterChanged: Boolean, transactionChanged: Boolean,
    deletedByTable: Map[String, Long], appendedByTable: Map[String, Long],
    renumbered: Boolean)

/** The incremental-sync merge (SURVEY §2.3 L1–L11; reference
  * src/tally.mts:88-307), one tick per [[run]]:
  *
  *  1. watermark compare gates the whole sync (L1/L2)
  *  2. per primary table: (guid, alterid) diff → deleted keys
  *     (anti-join, L3/L4) ∪ version-changed keys (mismatch join, L5);
  *     delete them (keep-complement anti-join, L6) + cascade deletes
  *     to children (L7)
  *  3. re-extract rows with alterid > warehouse watermark and append
  *     (L8) — together with the delete phase this is MERGE
  *  4. cascade-update denormalized parent-name columns via the
  *     surrogate `_fk` columns (L9)
  *  5. voucher renumbering when any voucher type is auto-numbered
  *     (L10): join-replace `voucher_number` from the re-pull
  *
  * The steps do not write. Each one STAGES its write-back — the key
  * set it touches and a row-local transform — on a per-tick view
  * ([[TickView]]) that reads every table once and composes the staged
  * transforms on top, so each step sees the state the steps before it
  * left. Each table is then rewritten once, through
  * [[Warehouse.rewritePartitions]] with the union of its staged keys
  * and the composed transform, when the tick ends — masters included:
  * the transaction group's surrogate-FK lookups and the cascade
  * updates read the staged masters through the view. A tick that
  * fails before its flush publishes nothing, and the next tick, seeing
  * the old watermarks, redoes all of it. The flush itself publishes
  * table by table, so a failure DURING it can still leave a partial
  * tick; closing that needs a warehouse-wide commit (one transaction
  * log over all tables). A delete or append step that found no rows
  * stages nothing.
  *
  * The diff snapshots, the re-pull and the master lookups are small
  * and broadcast. The merge is not shuffle-free: the removed keys and
  * each rewrite's bucket ids are distinct aggregates, and each rewrite
  * exchanges its rows on the bucket id so every bucket is written as
  * one file. A partition-capable warehouse
  * ([[PartitionedParquetWarehouse]]) replaces only the buckets a tick
  * actually touches, so a tick's I/O scales with the CHANGE volume,
  * not the table volume.
  */
final class MergeJob(spark: SparkSession, masters: Seq[TableSpec],
    transactions: Seq[TableSpec], source: TallySource,
    warehouse: Warehouse) {

  private val keyCol = "guid"
  private val versionCol = "alterid"

  def run(): SyncReport = {
    val view = new TickView(warehouse)
    val primaryMasters = masters.filter(_.nature == "Primary")
      .filter(s => warehouse.exists(s.name))
    val dbMasterWm =
      if (primaryMasters.isEmpty) 0L
      else Cdc.maxWatermark(
        primaryMasters.map(s => view.read(s.name)), versionCol)
    // the reference anchors the transaction watermark on trn_voucher
    // (src/tally.mts:124); fall back to 0 on a first/masters-only run
    val dbTxnWm =
      if (warehouse.exists("trn_voucher"))
        Cdc.maxWatermark(Seq(view.read("trn_voucher")), versionCol)
      else 0L

    val masterChanged = source.lastAlterIdMaster != dbMasterWm
    val txnChanged = source.lastAlterIdTransaction != dbTxnWm
    if (!masterChanged && !txnChanged)
      return SyncReport(masterChanged = false, transactionChanged = false,
        Map.empty, Map.empty, renumbered = false)

    val deleted = scala.collection.mutable.Map[String, Long]()
    val appended = scala.collection.mutable.Map[String, Long]()

    def mergeGroup(specs: Seq[TableSpec], wm: Long): Unit = {
      // delete phase: primary tables detect deletes/changes via diff
      specs.filter(_.nature == "Primary").foreach { spec =>
        val removeKeys = Cdc.changeLog(view.read(spec.name),
            broadcast(source.diffSnapshot(spec)), keyCol, versionCol)
          .select(col(keyCol)).distinct().localCheckpoint(eager = true)
        deleted(spec.name) = removeKeys.count()
        if (deleted(spec.name) > 0) {
          view.stage(spec.name, removeKeys,
            df => df.join(removeKeys, Seq(keyCol), "left_anti"))
          // cascade delete to children via their FK column (L7). The
          // child partitions by its OWN key, so the affected set is the
          // keys of rows whose FK matches — a read to find them is far
          // cheaper than rewriting every partition
          spec.cascadeDelete.foreach { cas =>
            cas.fields.values.foreach { fk =>
              if (warehouse.exists(cas.table)) {
                val affected = view.read(cas.table)
                  .join(removeKeys.withColumnRenamed(keyCol, fk), Seq(fk),
                    "left_semi")
                  .select(col(keyCol))
                view.stage(cas.table, affected,
                  df => Cdc.cascadeDelete(df, removeKeys, fk))
              }
            }
          }
        }
      }
      // append phase: all tables pull rows newer than the warehouse.
      // Surrogate FKs the extract didn't resolve server-side are
      // filled by broadcast lookup against the warehouse masters
      // (P15) BEFORE the append, so cascade updates can join through
      // them. localCheckpoint materializes the extract once — count()
      // and the union-write would otherwise recompute it (a second
      // full pull from Tally per table per sync)
      specs.foreach { spec =>
        val fresh = graft.operators.SurrogateFk.enrich(
            source.incrementalRows(spec, wm), spec,
            t => if (warehouse.exists(t)) Some(view.read(t)) else None)
          .localCheckpoint(eager = true)
        appended(spec.name) = fresh.count()
        if (appended(spec.name) > 0) {
          val base = view.read(spec.name)
          val aligned = fresh.select(base.columns.map(col).toIndexedSeq: _*)
          view.stage(spec.name, fresh.select(col(keyCol)),
            df => df.unionByName(aligned.select(
              df.columns.map(col).toIndexedSeq: _*)))
        }
      }
    }

    // the transaction group's surrogate-FK lookups and the cascade
    // updates below read the masters through the view, staged steps
    // included, so the masters need not be published first
    if (masterChanged) mergeGroup(masters, dbMasterWm)
    if (txnChanged) mergeGroup(transactions, dbTxnWm)

    // cascade updates: refresh denormalized names from masters (L9).
    // Affected = rows whose stored name is STALE vs the master (a
    // broadcast-join scan) — a master rename rewrites only the
    // partitions holding its children
    if (masterChanged)
      masters.filter(_.nature == "Primary").foreach { spec =>
        spec.cascadeUpdate.foreach { cas =>
          cas.fields.foreach { case (field, _) =>
            if (warehouse.exists(cas.table)) {
              val m = view.read(spec.name)
              val stale = view.read(cas.table).as("c")
                .join(broadcast(m.select(col(keyCol).as("__mk"),
                  col("name").as("__mn"))),
                  col(s"c._$field") === col("__mk"))
                // null-safe: a NULL stored name is stale too — =!=
                // would silently skip it forever
                .filter(!(col(s"c.$field") <=> col("__mn")))
                .select(col(s"c.$keyCol").as(keyCol))
              view.stage(cas.table, stale,
                df => Cdc.cascadeUpdate(df, m, s"_$field", keyCol,
                  "name", field))
            }
          }
        }
      }

    // voucher renumbering (L10): auto-numbered types shift numbers of
    // later vouchers when one is inserted in between
    var renumbered = false
    if (txnChanged && warehouse.exists("mst_vouchertype")) {
      val autoCount = view.read("mst_vouchertype")
        .filter(col("numbering_method").contains("Auto")).limit(1).count()
      if (autoCount > 0) {
        val numbers = source.voucherNumbers()
        // only vouchers whose number actually shifted need a rewrite
        // (null-safe: a NULL stored number re-pulled non-NULL is a
        // shift too)
        val changed = view.read("trn_voucher")
          .join(broadcast(numbers
            .withColumnRenamed("voucher_number", "__vn")),
            Seq(keyCol), "inner")
          .filter(!(col("voucher_number") <=> col("__vn")))
          .select(col(keyCol))
        view.stage("trn_voucher", changed,
          df => Cdc.renumber(df, numbers, keyCol, "voucher_number"))
        renumbered = true
      }
    }

    // every table publishes only now: a tick that fails before this
    // point leaves the warehouse as it was, so the next tick sees the
    // old watermarks and redoes the whole merge
    view.flushAll()
    SyncReport(masterChanged, txnChanged, deleted.toMap, appended.toMap,
      renumbered)
  }
}

/** One merge tick's view of the warehouse: each table is read once,
  * and the write-backs the steps stage are composed on top of that
  * read, so every step sees the state the steps before it left.
  * [[flushAll]] publishes each table with ONE
  * [[Warehouse.rewritePartitions]] call over the union of its staged
  * key sets and the composition of its staged transforms. Each
  * staged transform is row-local and identity outside its own keys,
  * so the composition is too, with the union as its key set. */
private final class TickView(warehouse: Warehouse) {
  private val bases = scala.collection.mutable.Map[String, DataFrame]()
  // per table: the staged key sets and the composed transform
  private val pending = scala.collection.mutable
    .LinkedHashMap[String, (List[DataFrame], DataFrame => DataFrame)]()

  private def base(table: String): DataFrame =
    bases.getOrElseUpdate(table, warehouse.read(table))

  def read(table: String): DataFrame =
    pending.get(table).fold(base(table))(_._2(base(table)))

  def stage(table: String, keys: DataFrame,
      transform: DataFrame => DataFrame): Unit =
    pending(table) = pending.get(table) match {
      case Some((staged, composed)) =>
        (keys :: staged, composed.andThen(transform))
      case None => (List(keys), transform)
    }

  /** Publish every table's staged write-backs, in staging order. A
    * transform flushed after a master may still read that master's
    * pre-tick files; a publish keeps its predecessor version, so they
    * are still there. */
  def flushAll(): Unit = pending.foreach { case (t, (keys, transform)) =>
    warehouse.rewritePartitions(t, keys.reduce(_ union _), transform)
  }
}

/** Continuous sync (SURVEY §2.3 L13; reference src/index.mts:51-89):
  * a driver polling loop with the watermark short-circuit — not a
  * streaming job, faithfully a batch poll (the reference's
  * "continuous" mode is setInterval). Runs `maxIterations` ticks (or
  * forever when negative), skipping when nothing changed. A tick that
  * throws ends the loop with its exception: an HTTP failure, or
  * Tally with no open company (the user closed it), which
  * [[XmlTallySource]] refuses rather than merging empty collections. */
object ContinuousSync {
  def run(job: () => SyncReport, intervalMillis: Long,
      maxIterations: Int, sleep: Long => Unit = Thread.sleep):
      Seq[SyncReport] = {
    val reports = scala.collection.mutable.Buffer[SyncReport]()
    var i = 0
    while (maxIterations < 0 || i < maxIterations) {
      reports += job()
      i += 1
      if (maxIterations < 0 || i < maxIterations) sleep(intervalMillis)
    }
    reports.toSeq
  }
}
