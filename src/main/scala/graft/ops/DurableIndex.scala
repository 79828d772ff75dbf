package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.dedup.Hashing

/** Durable indexes: artifacts the registry builds at most once per data
  * snapshot and reuses across sessions and processes (the dedup corpus
  * index, the IVF lists, the trained k-means codebook, the RRF
  * candidate lists, the ORC/JSON interchange copies, …).
  *
  * Each index is one declarative [[Spec]] — location prefix, snapshot
  * source file, catalog tables with column DDL and bucket spec, and a
  * `build` body — and [[open]] owns the lifecycle every index shares:
  * a content-derived snapshot tag versions the location and table
  * names, a build lock keyed by the location name serializes builders
  * within and across processes, a completion marker keeps a partial
  * build from ever being reused, and reuse re-registers each table
  * from its declared DDL.
  *
  * The FILES are the durable state; catalog entries are per-session
  * and re-declared over the files on reuse. Bucket metadata lives in
  * the catalog, not the files, so re-registration must repeat the
  * bucket spec or the exchange-free probe property is silently lost;
  * the declared column list is repeated too, because Spark rejects a
  * bucketed `CREATE TABLE … LOCATION` without one
  * (`SPECIFY_BUCKETING_IS_NOT_ALLOWED`) and reading the schema back
  * from the files would cost a Spark job per reuse. Build and
  * re-registration read the same DDL: [[Index.write]] conforms every
  * written table to it.
  */
object DurableIndex {

  /** One catalog table of an index: `name` is the table name before its
    * `_<tag>` suffix, `dir` its directory under the index location
    * ("" = the location itself), `columns` its column DDL, `bucket` its
    * bucket column and count (the files are sorted by the same
    * column). */
  final case class Table(name: String, dir: String, columns: String,
                         bucket: Option[(String, Int)] = None) {
    val schema: StructType = StructType.fromDDL(columns)
  }

  /** A durable index: files under `root/<location>-<tag>`, tagged by the
    * listing of `source` in the data directory; its catalog `tables`
    * (none for a file-only copy); the `graft.Bench` `index_build` key
    * that times its build (None = not timed there); and the `build`
    * body, which writes each declared table through [[Index.write]]. */
  final case class Spec(location: String, source: String,
                        tables: Seq[Table] = Nil,
                        benchKey: Option[String] = None)(
      val build: (SparkSession, String, Index) => Unit) {
    def table(name: String): Table =
      tables.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"durable index $location declares no table $name"))
  }

  /** A spec at one data snapshot: its location and table names. */
  final class Index private[DurableIndex] (val spec: Spec, tag: String) {
    val name: String = s"${spec.location}-$tag"
    val loc: Path = root.resolve(name)

    def table(t: String): String = s"${spec.table(t).name}_$tag"
    def path(dir: String): String = loc.resolve(dir).toString

    /** Write table `t` (at build time) as declared: its columns cast to
      * the DDL's types in the DDL's order, under its directory, with
      * its bucket spec. */
    def write(t: String, df: DataFrame): Unit =
      writer(t, df, "overwrite").option("path", path(spec.table(t).dir))
        .saveAsTable(table(t))

    /** Append rows to table `t` with its declared schema and bucket
      * spec, so the new files carry bucket ids and a probe of the grown
      * table stays exchange-free. */
    def append(t: String, df: DataFrame): Unit =
      writer(t, df, "append").saveAsTable(table(t))

    private def writer(t: String, df: DataFrame, mode: String): DataFrameWriter[Row] = {
      val decl = spec.table(t)
      val w = df.select(decl.schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*).write.mode(mode)
      decl.bucket.fold(w) { case (c, n) => w.bucketBy(n, c).sortBy(c) }
    }
  }

  /** The spec's index for the data directory `d`'s current snapshot —
    * names only; nothing is built or registered. */
  def locate(d: String, spec: Spec): Index =
    new Index(spec, snapshotTag(d, spec.source))

  /** The spec's index for `d`'s snapshot, usable in session `s`: its
    * tables registered if the session lacks them, built first if no
    * complete build exists. Reuse costs a file listing and catalog
    * calls — no Spark job and no file read. */
  def open(s: SparkSession, d: String, spec: Spec): Index = {
    val ix = locate(d, spec)
    locked(ix.name) {
      if (spec.tables.isEmpty ||
          !spec.tables.forall(t => s.catalog.tableExists(ix.table(t.name)))) {
        if (complete(ix.loc)) spec.tables.foreach(register(s, ix, _))
        else {
          Files.createDirectories(ix.loc)
          spec.build(s, d, ix)
          Files.createFile(ix.loc.resolve(DoneMarker))
        }
      }
    }
    ix
  }

  /** Drop the spec's catalog tables and delete its files for `d`'s
    * snapshot (the tables are external, so DROP alone keeps the
    * files). The next [[open]] builds afresh. */
  def drop(s: SparkSession, d: String, spec: Spec): Unit = {
    val ix = locate(d, spec)
    locked(ix.name) {
      spec.tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS ${ix.table(t.name)}"))
      deleteRecursively(ix.loc)
    }
  }

  /** [[drop]] then [[open]], both under the spec's lock so no other
    * builder lands in between; returns the build's wall seconds (the
    * delete is not timed) — `graft.Bench`'s `index_build` figure. */
  def rebuild(s: SparkSession, d: String, spec: Spec): Double =
    locked(locate(d, spec).name) {
      drop(s, d, spec)
      val t0 = System.nanoTime()
      open(s, d, spec)
      (System.nanoTime() - t0) / 1e9
    }

  /** Stable on-disk root for persisted indexes. Overridable for
    * deployments (a production cluster points this at shared storage);
    * defaults under the JVM temp root so tests and the round driver
    * share indexes across SESSIONS on one machine. */
  private def root: Path = Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_INDEX_ROOT",
      sys.props("java.io.tmpdir") + "/graft-index"))

  /** Marker written after ALL of an index's tables land — its absence
    * means a partial/in-flight build, which is rebuilt, never reused. */
  private val DoneMarker = "_GRAFT_INDEX_COMPLETE"

  /** Snapshot tag: hash of the table's absolute path plus its
    * (name, size, mtime) file listing. Index locations and table names
    * derive from it, so a data refresh VERSIONS the index (stale reuse
    * is impossible) — the production "version by snapshot id" pattern,
    * with the file listing standing in for a catalog snapshot id. */
  private def snapshotTag(dataDir: String, tableFile: String): String = {
    val table = Paths.get(dataDir, tableFile)
    val sig = new StringBuilder(table.toAbsolutePath.toString)
    if (Files.isDirectory(table)) {
      val st = Files.list(table)
      try st.sorted().forEach { p =>
        sig.append('|').append(p.getFileName).append(':')
          .append(Files.size(p)).append(':')
          .append(Files.getLastModifiedTime(p).toMillis)
        ()
      } finally st.close()
    }
    java.lang.Long.toHexString(Hashing.md5Lower64(sig.toString))
  }

  /** One lock object per key: `computeIfAbsent` + synchronized
    * serializes concurrent builders in this JVM (a streaming twin's
    * first micro-batch racing the batch query); an OS-level advisory
    * file lock under [[root]] then serializes builders ACROSS
    * processes (r18 advice: a parallel shard replay and a bench on the
    * same snapshot could both take the build branch and interleave
    * overwrite writes, then the completion marker landed on a torn
    * index that was reused forever). `FileChannel.lock` blocks until the peer
    * releases — or dies: the kernel drops the lock with the process,
    * so a crashed builder never wedges the key — and the loser then
    * re-checks [[complete]] inside its critical section and reuses.
    * The JVM monitor stays: POSIX file locks are per-process, so two
    * THREADS of one JVM must not both reach `FileChannel.lock` (the
    * second raises OverlappingFileLockException instead of waiting).
    * `held` makes re-entrant same-key nesting a no-op for the same
    * reason. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val held = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  private def locked[T](key: String)(body: => T): T =
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      if (held.get()(key)) body
      else {
        Files.createDirectories(root)
        val ch = java.nio.channels.FileChannel.open(
          root.resolve(s".lock-$key"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lk = ch.lock()
          held.get() += key
          try body
          finally { held.get() -= key; lk.release() }
        } finally ch.close()
      }
    }

  private def complete(loc: Path): Boolean = Files.exists(loc.resolve(DoneMarker))

  /** Compact the named bucketed tables of the spec's index for `d`'s
    * snapshot in place, under the spec's lock: rewrite each table's
    * rows through its declared bucket spec into one file per bucket,
    * then swap the new files under the table's location.
    *
    * Why: [[graft.dedup.DedupQueries.appendToCorpusIndex]] /
    * [[graft.sim.SimilarityQueries.appendToIvfIndex]] land one file per
    * bucket per APPEND — correct (every file carries its bucket id, the
    * probe stays exchange-free) but at a nightly cadence the per-bucket
    * file count grows ∝ days, and at 100 TB each probe task pays an
    * open/seek/footer per file. Compaction restores O(1) files per
    * bucket without touching the probe plan — and without a SHUFFLE:
    * with the bucketed scan forced on (autoBucketedScan would disable
    * it here, because after the optimizer elides the redundant
    * repartition no operator appears to require the distribution — the
    * measured trap: the writer then sees arbitrary scan partitions and
    * emits per-task-per-bucket files, 54 instead of 8 in the repro),
    * each task reads exactly one bucket's files, re-sorts, and writes
    * exactly one file. The `repartition(n, bucketCol)` is belt and
    * braces: it is a no-op over the bucketed scan (same murmur3-pmod
    * placement), and if the bucketed layout is ever NOT picked up it
    * degrades to one aligned shuffle — more cost, never wrong files.
    * `sortBy` re-sorts within the merged files, restoring the
    * single-run sort the first build had.
    *
    * The swap is filesystem-level (write to `<dir>.compact`, move the
    * old dir aside, rename, re-register the external-table DDL with the
    * same bucket spec). On a real cluster the rename step is a metastore
    * location swap (or a transactional table format); the brief window
    * where the location is mid-move is the same window every
    * non-transactional parquet rewrite has — callers run compaction from
    * the maintenance job that owns the index, serialized by the spec's lock.
    * Readers holding an already-planned DataFrame keep their file list
    * and must re-plan after compaction (same contract as any overwrite). */
  def compact(s: SparkSession, d: String, spec: Spec, tables: String*): Unit = {
    val ix = locate(d, spec)
    locked(ix.name) {
      open(s, d, spec)
      tables.map(spec.table).foreach(compactTable(s, ix, _))
    }
  }

  private def compactTable(s: SparkSession, ix: Index, t: Table): Unit = {
    val (bucketCol, nBuckets) = t.bucket.getOrElse(throw new IllegalArgumentException(
      s"durable index ${ix.spec.location}: table ${t.name} is not bucketed"))
    val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val savedAutoScan = s.conf.get(autoScanKey)
    s.conf.set(autoScanKey, "false")
    try {
      val tbl = ix.table(t.name)
      val dir = ix.loc.resolve(t.dir)
      val tmpTbl = s"${tbl}_compact"
      val tmpDir = dir.resolveSibling(dir.getFileName.toString + ".compact")
      val oldDir = dir.resolveSibling(dir.getFileName.toString + ".old")
      deleteRecursively(tmpDir); deleteRecursively(oldDir)
      s.sql(s"DROP TABLE IF EXISTS $tmpTbl")
      s.table(tbl).repartition(nBuckets, col(bucketCol))
        .write.mode("overwrite")
        .option("path", tmpDir.toString)
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(tmpTbl)
      s.sql(s"DROP TABLE IF EXISTS $tmpTbl")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      Files.move(dir, oldDir)
      Files.move(tmpDir, dir)
      register(s, ix, t)
      deleteRecursively(oldDir)
    } finally s.conf.set(autoScanKey, savedAutoScan)
  }

  /** Declare table `t` over its files as an external table with the
    * declared columns and bucket spec. */
  private def register(s: SparkSession, ix: Index, t: Table): Unit = {
    val clustered = t.bucket.fold("") { case (c, n) =>
      s"CLUSTERED BY ($c) SORTED BY ($c) INTO $n BUCKETS " }
    s.sql(s"CREATE TABLE IF NOT EXISTS ${ix.table(t.name)} (${t.columns}) " +
      s"USING PARQUET ${clustered}LOCATION '${ix.path(t.dir)}'")
    ()
  }

  /** Data files of a table directory — the parquet parts, not the
    * `_SUCCESS` marker or the local filesystem's hidden `.crc`
    * siblings — for the compaction specs' file-count assertions. */
  def dataFiles(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
        }
        .toSeq
    } finally st.close()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(Comparator.reverseOrder[Path]()).forEach { q =>
        Files.delete(q); ()
      } finally st.close()
    }
}
