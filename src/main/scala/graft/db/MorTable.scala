package graft.db

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, MapType, StructField, StructType}

import scala.util.Using

/** Merge-on-read keyed table: the O(batch) upsert path that replaces the
  * facade's default copy-on-write snapshot at scale (the "100 TB
  * divergence point" of ARCHITECTURE.md, now implemented).
  *
  * Layout (Delta/Iceberg-style, minimal):
  * {{{
  * dir/
  *   base_v<G>.parquet     — fold GENERATIONS: the merge of everything
  *                           with commit version <= G. The newest is
  *                           the live base; older ones are retained
  *                           for in-flight readers ({current,
  *                           previous}) and for open snapshot pins,
  *                           then GC'd — never renamed or rewritten in
  *                           place.
  *   base.parquet          — legacy pre-versioned base (its ceiling in
  *                           an internal `_graft_ceiling` file, 0 when
  *                           absent); participates as a generation and
  *                           is GC'd once superseded.
  *   delta_vNNNNNN.parquet — one append per commit: upserted rows
  *                           and/or delete markers (_deleted = true);
  *                           versions are MONOTONIC across folds.
  *                           Folded deltas are retained as long as a
  *                           retained generation window or pin still
  *                           reads them.
  * }}}
  *
  * Writes append a delta file — cost proportional to the batch, never
  * the table. Reads merge by last-writer-wins: the newest base
  * generation <= the read ceiling, plus the deltas above it — resolved
  * with a window over the DELTAS ONLY and one LEFT ANTI join folding
  * the base in (the base is never shuffled by a read; see [[readAt]]).
  * Read amplification grows with pending delta count and is bounded by
  * [[compact]].
  *
  * In-flight readers vs compaction: a fold writes a NEW generation
  * file and deletes nothing a resolved plan could still be reading —
  * the previous generation and its deltas survive until the NEXT fold
  * (the same {current, previous} retention the copy-on-write tier
  * gives), and generations a pinned ceiling still resolves to survive
  * until the pin closes ([[gc]]). No rename-aside, no retire moves:
  * the only file mutations are create-new and delete-superseded, so
  * the crash story is one temp dir ([[recover]]).
  *
  * Pinned reads: a repeatable-read pin records a commit ceiling c;
  * [[readAt]] resolves the newest retained generation <= c plus the
  * deltas in between — stable by append-only-ness and by pin-aware GC.
  *
  * Concurrency: single-writer (like the reference — multi-process
  * safety is explicitly out of scope there too, `README.md:174`);
  * versions are allocated from the directory listing plus the fold
  * ceiling.
  *
  * Schema memo: every read of a file takes its schema from
  * [[fileSchema]], filled once per instance from the file's parquet
  * footer, read on the driver (no Spark job; `spark.read.parquet` would
  * run a one-task inference job for it), and reads through
  * `spark.read.schema(s)`, which submits no job either: [[readFile]]
  * one file with all its columns, [[presentAt]] every file's key and
  * `_deleted` in one relation. A file is never rewritten under its
  * name — generations and deltas are created new, and a fold commits
  * by renaming to a fresh name — except an orphan delta version:
  * [[truncateAbove]] deletes it and the next commit writes that version
  * again. So [[truncateAbove]] and [[gc]] drop the entries of the files
  * they delete. Planning a merged read therefore submits no job,
  * however many new deltas it reads.
  */
class MorTable(spark: SparkSession, dir: String, keyCol: String) {

  private def fs: FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** Schema of each file this instance has read, by path. Only ever
    * filled from the file itself: a writer's DataFrame may declare
    * columns non-nullable, but tombstone rows are null in every non-key
    * column.
    */
  private val fileSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private[graft] def fileSchema(p: Path): StructType =
    fileSchemas.computeIfAbsent(p.toString, _ => footerSchema(p))

  /** The schema `spark.read.parquet(p).schema` infers, read on the
    * driver from the footer of the first part file: the Spark schema
    * the writer stored in the footer, else the parquet schema
    * converted, made nullable as Spark's file source makes it. Spark's
    * inference runs a one-task job for the same footer.
    */
  private def footerSchema(p: Path): StructType = {
    val part = fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .sortBy(_.getName).headOption
      .getOrElse(throw new IllegalStateException(
        s"Unable to infer schema for Parquet at $p: it has no part file"))
    val footer = Using.resource(ParquetFileReader.open(
      HadoopInputFile.fromPath(part, spark.sparkContext.hadoopConfiguration)))(_.getFooter)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(part, footer), new ParquetToSparkSchemaConverter(SQLConf.get))
    MorTable.asNullable(schema).asInstanceOf[StructType]
  }

  /** One base or delta file with all its columns (see the schema memo
    * in the class doc).
    */
  private def readFile(p: Path): DataFrame =
    spark.read.schema(fileSchema(p)).parquet(p.toString)

  /** Delete a base or delta file and forget its schema. */
  private def deleteFile(p: Path): Unit = {
    fs.delete(p, true)
    fileSchemas.remove(p.toString)
  }

  private def legacyBasePath = new Path(s"$dir/base.parquet")
  private def legacyOldPath = new Path(s"$dir/base.parquet.old")
  private def tmpPath = new Path(s"$dir/base.parquet.compacting")

  /** Heal crash crumbs. The versioned-generation fold has exactly one:
    * an incomplete snapshot write (`*.compacting`) — drop it; the
    * deltas it would have folded are still present. Crumbs of the
    * RETIRED pre-versioned machinery (a `base.parquet.old` aside, a
    * staged retire dir under `_retired`) are healed for folders that crashed
    * under old code: the aside is restored if the live base vanished,
    * else dropped; stale retire stagings/dirs are dropped (pins are
    * in-JVM, so no pin can survive into a process that finds them).
    */
  private def recover(): Unit = {
    healLegacy()
    // The staging-dir crumb is healed ONLY here, on the WRITER path
    // (recover() is reached from compact(), where the single-writer
    // contract holds): `tmpPath` is also the LIVE staging dir of an
    // in-flight fold, and read paths used to delete it unconditionally —
    // a reader's readAt() racing a writer's compact() destroyed the
    // fold mid-write (caught by ConcurrentReadWriteSpec under suite
    // load: chmod on a vanished `.compacting/_SUCCESS`). A stale crumb
    // left by a crash is invisible to reads (no `base_v`/`delta_v`
    // name match) and is reclaimed by the next fold's overwrite.
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
  }

  /** The read-safe subset of crash healing: crumbs of the RETIRED
    * pre-versioned machinery, which no live writer can be producing —
    * deleting them can never race anything current code writes.
    */
  private def healLegacy(): Unit = {
    if (fs.exists(legacyOldPath)) {
      if (fs.exists(legacyBasePath) || baseGenList().nonEmpty)
        fs.delete(legacyOldPath, true)
      else fs.rename(legacyOldPath, legacyBasePath)
    }
    val retiredRoot = new Path(s"$dir/_retired")
    if (fs.exists(retiredRoot)) fs.delete(retiredRoot, true)
  }

  private def deltaPathsIn(d: Path): Seq[(Int, Path)] = {
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).map(_.getPath).toSeq
      .filter(p => p.getName.startsWith("delta_v") && p.getName.endsWith(".parquet"))
      .map(p => (p.getName.stripPrefix("delta_v").stripSuffix(".parquet").toInt, p))
      .sortBy(_._1)
  }

  private def deltaPaths(): Seq[(Int, Path)] = deltaPathsIn(new Path(dir))

  /** Ceiling of the LEGACY unversioned base (its `_graft_ceiling`
    * file; 0 when absent — every row is then older than any delta).
    */
  private def legacyCeiling(): Int = {
    val p = new Path(legacyBasePath, "_graft_ceiling")
    if (!fs.exists(p)) 0
    else try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    } catch {
      // Same NonFatal-to-default contract as `_committed`/lease reads:
      // a corrupt/truncated ceiling file degrades to "every base row is
      // older than any delta" instead of failing every read.
      case scala.util.control.NonFatal(_) => 0
    }
  }

  /** All base generations on disk, (foldCeiling, path), ascending. */
  private def baseGenList(): Seq[(Int, Path)] = {
    val d = new Path(dir)
    val versioned =
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d).map(_.getPath).toSeq
        .filter(p => p.getName.startsWith("base_v") && p.getName.endsWith(".parquet"))
        .map(p => (p.getName.stripPrefix("base_v").stripSuffix(".parquet").toInt, p))
    val legacy =
      if (fs.exists(legacyBasePath)) Seq((legacyCeiling(), legacyBasePath))
      else Seq.empty
    (versioned ++ legacy).sortBy(_._1)
  }

  def exists: Boolean = {
    healLegacy()
    baseGenList().nonEmpty || deltaPaths().nonEmpty
  }

  /** True when at least one folded generation exists (committed by
    * construction).
    */
  def hasBase: Boolean = {
    healLegacy()
    baseGenList().nonEmpty
  }

  /** Fold ceiling of the LIVE (newest) generation, 0 when none. */
  def foldCeiling(): Int = baseGenList().lastOption.map(_._1).getOrElse(0)

  /** Monotonic across folds: post-fold deltas continue counting upward
    * of the fold ceiling, so a pinned pre-fold ceiling can never
    * collide with them.
    */
  private def nextVersion(): Int =
    math.max(foldCeiling(), deltaPaths().lastOption.map(_._1).getOrElse(0)) + 1

  /** The merged current snapshot (no `_v`/`_deleted` internals). */
  def read(): DataFrame = readAt(Int.MaxValue)

  /** The merged snapshot AS OF commit version `maxV` — the repeatable
    * MOR read: the newest retained generation <= maxV, plus the deltas
    * between its ceiling and maxV. Stable under later commits (deltas
    * are append-only) AND under later folds (pin-aware [[gc]] retains
    * the generation + delta range a pinned ceiling resolves to until
    * the pin closes).
    */
  def readAt(maxV: Int): DataFrame = {
    healLegacy()
    val gens = baseGenList()
    val baseOpt = gens.filter(_._1 <= maxV).lastOption
    val floor = baseOpt.map(_._1).getOrElse(0)
    val deltaDfs = windowDeltaDfs(floor, maxV)
    require(baseOpt.nonEmpty || deltaDfs.nonEmpty,
      s"MOR table $dir has no file set covering version $maxV " +
        "(was a pinned ceiling's generation GC'd after its pin closed?)")
    val baseDf = baseOpt.map { case (_, p) => readFile(p) }
    if (deltaDfs.isEmpty) return baseDf.get
    // Merge plan, sized for a base that dwarfs the deltas (the regime
    // compaction maintains): last-writer-wins is resolved by a window
    // over the DELTAS ONLY — the bounded small side — and the base
    // contributes via one LEFT ANTI join against the delta keys, which
    // Catalyst broadcasts at realistic delta sizes. The base is never
    // shuffled by a merged read; a window over base ∪ deltas would
    // re-exchange the entire table per read. Tombstoned keys fall out
    // on both sides: the anti join removes them from the base, the
    // `!_deleted` filter from the resolved deltas.
    val allDeltas = deltaDfs
      .reduce(_ unionByName (_, allowMissingColumns = true))
    // SINGLE-delta window (r18, guide §2.4): one delta cannot contain
    // two different writes of a key — upserts have unique keys within a
    // batch (contract) and duplicated tombstones of one delete all
    // resolve to nothing either way — so last-writer-wins is the
    // identity and the per-key window (a full hash exchange + sort of
    // the delta relation per read) drops to a codegen'd filter. This is
    // the dominant read shape of the commit protocol's hot phases: the
    // first read after any single commit, and every pinned read whose
    // ceiling covers one delta.
    val resolved =
      if (deltaDfs.size == 1)
        allDeltas.filter(!col("_deleted")).drop("_v", "_deleted")
      else {
        val w = Window.partitionBy(keyCol).orderBy(col("_v").desc)
        allDeltas
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1 && !col("_deleted"))
          .drop("_rn", "_v", "_deleted")
      }
    baseDf match {
      case None => resolved
      case Some(b) =>
        // no distinct on the keys: LEFT ANTI tolerates duplicates, and
        // a distinct would add the one shuffle this plan exists to avoid
        b.join(allDeltas.select(keyCol), Seq(keyCol), "left_anti")
          .unionByName(resolved.select(b.columns.map(col).toSeq: _*))
    }
  }

  /** The subset of `ids` PRESENT in the merged snapshot as of `maxV`,
    * resolved on the driver from one collect. The generation and the
    * window's deltas are read as ONE relation of `(key, _deleted)` (null
    * where a file has no `_deleted`: a base, a legacy delta), filtered
    * to `ids`; each row's version comes from the name of the file it was
    * read from (`_metadata.file_path`). So the plan has one scan however
    * many deltas are pending, the same shape every time, and the rows
    * shipped are at most the requested keys' writes. A key is present
    * iff its newest version holds a live row; two live rows of one key
    * at one version are a broken unique-keys invariant and raise an
    * AssertionError (tombstones may repeat a key, see [[delete]]).
    */
  def presentAt(maxV: Int, ids: Seq[Long]): Set[Long] = {
    healLegacy()
    val baseOpt = baseGenList().filter(_._1 <= maxV).lastOption
    val floor = baseOpt.map(_._1).getOrElse(0)
    val files = baseOpt.toSeq ++
      deltaPaths().filter { case (v, _) => v > floor && v <= maxV }
    if (files.isEmpty || ids.isEmpty) return Set.empty
    val versionOf = files.map { case (v, p) => p.getName -> v }.toMap
    val schema = StructType(Seq(
      fileSchema(files.head._2)(keyCol), StructField("_deleted", BooleanType)))
    val writes = spark.read.schema(schema).parquet(files.map(_._2.toString): _*)
      .filter(col(keyCol).isInCollection(ids.distinct))
      .select(col(keyCol), col("_deleted"), col("_metadata.file_path"))
      .collect()
      .map(r => (r.getLong(0), versionOf(new Path(r.getString(2)).getParent.getName),
        !r.isNullAt(1) && r.getBoolean(1)))
    writes.groupBy(_._1).flatMap { case (k, kw) =>
      val newest = kw.map(_._2).max
      val live = kw.count { case (_, v, deleted) => v == newest && !deleted }
      if (live > 1) throw new AssertionError(
        s"key $k has $live live rows at version $newest of $dir: duplicated key")
      if (live == 1) Some(k) else None
    }.toSet
  }

  /** The merged view of ONLY the commits in `(floorExclusive, ceiling]`:
    * each key's latest write inside the window, tombstones dropped,
    * internals (`_v`/`_deleted`) removed. This is what an INCREMENTAL
    * consumer of the table must ADD when it advances from one committed
    * ceiling to a later one — [[touchedKeys]] lists what it must
    * supersede in whatever it built from the pre-window state. Reads
    * only the window's delta files (cost ∝ the window's commits, never
    * the table); throws if the window holds no deltas — the caller
    * decides eligibility from the ceilings before asking.
    */
  def readWindow(floorExclusive: Int, ceiling: Int): DataFrame = {
    val deltaDfs = windowDeltaDfs(floorExclusive, ceiling)
    require(deltaDfs.nonEmpty,
      s"MOR table $dir has no deltas in ($floorExclusive, $ceiling]")
    val allDeltas = deltaDfs.reduce(_ unionByName (_, allowMissingColumns = true))
    // same single-delta identity as [[readAt]] — no per-key window
    if (deltaDfs.size == 1)
      allDeltas.filter(!col("_deleted")).drop("_v", "_deleted")
    else {
      val w = Window.partitionBy(keyCol).orderBy(col("_v").desc)
      allDeltas
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && !col("_deleted"))
        .drop("_rn", "_v", "_deleted")
    }
  }

  /** Every key written inside `(floorExclusive, ceiling]` — upserts AND
    * tombstones (any key the window touched is stale wherever it
    * appeared before the window). Distinct.
    */
  def touchedKeys(floorExclusive: Int, ceiling: Int): DataFrame = {
    val deltaDfs = windowDeltaDfs(floorExclusive, ceiling)
    require(deltaDfs.nonEmpty,
      s"MOR table $dir has no deltas in ($floorExclusive, $ceiling]")
    deltaDfs.map(_.select(keyCol)).reduce(_ unionByName _).distinct()
  }

  /** The window's raw delta rows WITH the `_v`/`_deleted` internals —
    * the small-window driver-side materialization path: a consumer that
    * knows the window is tiny ([[windowBytes]]) collects this once and
    * resolves last-writer-wins locally instead of paying a
    * window-function + join plan.
    */
  def readWindowRaw(floorExclusive: Int, ceiling: Int): DataFrame = {
    val deltaDfs = windowDeltaDfs(floorExclusive, ceiling)
    require(deltaDfs.nonEmpty,
      s"MOR table $dir has no deltas in ($floorExclusive, $ceiling]")
    deltaDfs.reduce(_ unionByName (_, allowMissingColumns = true))
  }

  /** Total on-disk bytes of the window's delta files — the zero-cost
    * size probe for choosing driver-side vs distributed window
    * materialization.
    */
  def windowBytes(floorExclusive: Int, ceiling: Int): Long =
    deltaPaths()
      .filter { case (v, _) => v > floorExclusive && v <= ceiling }
      .map { case (_, p) => fs.getContentSummary(p).getLength }
      .sum

  private def windowDeltaDfs(floorExclusive: Int, ceiling: Int): Seq[DataFrame] =
    deltaPaths()
      .filter { case (v, _) => v > floorExclusive && v <= ceiling }
      .map { case (v, p) =>
        val df = readFile(p)
        (if (df.columns.contains("_deleted")) df
         else df.withColumn("_deleted", lit(false)))
          .withColumn("_v", lit(v))
      }

  /** Highest committed version (0 = empty/legacy base only) — the
    * ceiling a repeatable read pins. Monotonic across folds.
    */
  def versionCeiling(): Int =
    math.max(foldCeiling(), deltaPaths().lastOption.map(_._1).getOrElse(0))

  /** Append-only upsert: writes ONLY the batch (last-writer-wins
    * replaces any older rows with the same key at read time). Returns
    * the delta's commit version — the facade records it in the folder's
    * `_committed` ceilings AFTER both tiers land, which is what makes
    * the commit visible (see [[graft.db.VectorDB]]'s MOR commit
    * protocol).
    *
    * Precondition: keys are unique within `rows`. The single-delta read
    * path skips the last-writer-wins window on that assumption
    * ([[readAt]]); it is the caller's to guarantee (the facade validates
    * each batch) and is not checked here, as a check would add a Spark
    * job to every commit.
    */
  def upsert(rows: DataFrame): Int = {
    val v = nextVersion()
    rows.withColumn("_deleted", lit(false))
      .write.mode("errorifexists").parquet(s"$dir/delta_v$v.parquet")
    v
  }

  /** Append-only delete: writes tombstone markers for `ids` (a
    * single-column relation on [[keyCol]]) and returns the delta's
    * commit version (see [[upsert]]). Unlike an upsert's rows, `ids` may
    * repeat a key: every tombstone of a key resolves to "deleted", so
    * the single-delta read path needs no uniqueness here.
    *
    * A tombstone carries every column of the table's newest file (a
    * pending delta, else the live generation), null, so a later merged
    * read can union it with any file of the table. Those columns come
    * from that file's memoized footer schema: no read of the table is
    * planned, and the write is the only job. A table with no file yet
    * has no live key; its tombstones carry the key alone.
    */
  def delete(ids: DataFrame): Int = {
    val v = nextVersion()
    val newest = (baseGenList().lastOption ++ deltaPaths().lastOption).maxByOption(_._1)
    val nullCols = newest.toSeq.flatMap { case (_, p) =>
      fileSchema(p).fields.toSeq
        .filter(f => f.name != keyCol && f.name != "_deleted")
        .map(f => lit(null).cast(f.dataType).as(f.name))
    }
    ids.select((col(keyCol) +: nullCols) :+ lit(true).as("_deleted"): _*)
      .write.mode("errorifexists").parquet(s"$dir/delta_v$v.parquet")
    v
  }

  /** Delete every delta above `ceiling` — orphans of a commit that
    * never reached its `_committed` flip (a crash or a fenced writer
    * between the two tiers' writes). Called by the facade at commit
    * start, so an orphan can never be folded in once a later ceiling
    * passes its version. Readers never saw the orphans (ceiling-gated
    * reads), so this is garbage collection, not data loss.
    */
  def truncateAbove(ceiling: Int): Unit =
    deltaPaths().filter(_._1 > ceiling).foreach { case (_, p) => deleteFile(p) }

  /** Fold the live generation + pending deltas into a NEW generation
    * file `base_v<ceiling>.parquet` (bounds read amplification; the
    * amortized rewrite). The fold commits with one rename of the
    * freshly written temp dir to a name that never existed — nothing an
    * in-flight reader resolved is touched. Superseded generations and
    * folded deltas are then GC'd per the retention rule ([[gc]]):
    * {current, previous} generations always survive (the in-flight
    * reader window, as for copy-on-write snapshots), plus whatever the
    * open pins in `pinnedCeilings` still resolve to.
    */
  def compact(pinnedCeilings: Set[Int] = Set.empty): Unit = {
    recover()
    val pending = deltaPaths().filter(_._1 > foldCeiling())
    if (pending.nonEmpty) {
      val newCeil = versionCeiling()
      read().sortWithinPartitions(keyCol)
        .write.mode("overwrite").parquet(tmpPath.toString)
      fs.rename(tmpPath, new Path(s"$dir/base_v$newCeil.parquet"))
    }
    gc(pinnedCeilings)
  }

  /** Retention: keep the newest generation (live), the one before it
    * (resolved-before-the-fold readers; the COW {current, previous}
    * window), and the generation each pinned ceiling resolves to; keep
    * a folded delta iff some retained window still merges it —
    * (previous, current] for the in-flight window, (pinGen, pin] per
    * pin. Everything else is unreachable and deleted. Unfolded deltas
    * (above the live ceiling) are never touched.
    */
  def gc(pinnedCeilings: Set[Int]): Unit = {
    // healLegacy only: gc also runs from pin close on READER instances,
    // which must never delete a writer's live `.compacting` staging
    healLegacy()
    val gens = baseGenList()
    if (gens.isEmpty) return
    val genCeils = gens.map(_._1)
    val cur = genCeils.last
    val prev = if (genCeils.size >= 2) Some(genCeils(genCeils.size - 2)) else None
    def genOf(c: Int): Int = genCeils.filter(_ <= c).lastOption.getOrElse(0)
    val keepGens: Set[Int] = Set(cur) ++ prev ++ pinnedCeilings.map(genOf)
    gens.filterNot(g => keepGens.contains(g._1))
      .foreach(g => deleteFile(g._2))
    val neededRanges: Set[(Int, Int)] =
      pinnedCeilings.map(c => (genOf(c), c)) + ((prev.getOrElse(0), cur))
    deltaPaths()
      .filter { case (v, _) =>
        v <= cur && !neededRanges.exists { case (lo, hi) => v > lo && v <= hi }
      }
      .foreach { case (_, p) => deleteFile(p) }
  }

  /** Generations retained beyond the live one (previous window +
    * pin-held) — the disk-overhead indicator of retention.
    */
  def pastGenerations(): Int = math.max(0, baseGenList().size - 1)

  /** Number of PENDING (unfolded) delta files — the read-amplification
    * indicator. Folded deltas retained for the reader window / pins do
    * not count: they are not merged by live reads.
    */
  def deltaCount(): Int = deltaPaths().count(_._1 > foldCeiling())
}

object MorTable {

  /** Every field, array element and map value nullable, as Spark's file
    * source declares a file's schema (`StructType.asNullable` is
    * private to Spark).
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType => MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
