package graft.state

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-superstep metrics recorded in the lineage manifest (north rule:
  * partition id, iteration, row counts, delta norms). The reference's
  * analogue is its counter/timer report (ParaCOSM/CSM/matching/matching.h:
  * 25-33, main.cpp:848-868) — but written durably per iteration, which the
  * reference cannot do (in-memory only; crash = restart, SURVEY §2.11). */
final case class PartitionLineage(partitionId: Int, rowCount: Long)

final case class SnapshotManifest(
    name: String,
    iteration: Int,
    rowCount: Long,
    deltaL1: Double,
    deltaLinf: Double,
    changed: Long,
    wallMs: Long,
    partitions: Seq[PartitionLineage],
    byteSize: Long = 0L) {

  def toJson: String = {
    val parts = partitions
      .map(p => s"""{"partitionId":${p.partitionId},"rowCount":${p.rowCount}}""")
      .mkString("[", ",", "]")
    s"""{"name":"$name","iteration":$iteration,"rowCount":$rowCount,""" +
      s""""deltaL1":$deltaL1,"deltaLinf":$deltaLinf,"changed":$changed,""" +
      s""""wallMs":$wallMs,"byteSize":$byteSize,"partitions":$parts}"""
  }
}

/** Iceberg-semantics snapshot store on Parquet + JSON manifests.
  *
  * No Iceberg runtime jar exists in this image (zero-egress), so this class
  * mirrors the semantics we need from it — immutable snapshot directories,
  * atomic commit (manifest written last, data dir renamed into place), and
  * per-partition lineage — behind a small API that a true Iceberg binding
  * could replace one class at a time (SURVEY.md §7.0).
  *
  * Layout: `$root/$name/it=$k/data/` (parquet) + `$root/$name/it=$k/manifest.json`.
  * A snapshot is committed iff its manifest exists; `latestCompleted` ignores
  * torn writes, which is what makes mid-iteration kills resumable.
  */
final class StateStore(val root: String) {

  private def dir(name: String, it: Int): Path = Paths.get(root, name, s"it=$it")

  /** Write one superstep snapshot atomically: one Spark job, the parquet
    * write. The manifest's lineage comes from the footers of the files just
    * written — one entry per written partition, its id taken from Spark's
    * `part-NNNNN-…` file name — so it describes the stored snapshot, not
    * the pre-write plan, without re-reading it. `load` is the only read
    * path; Catalyst lineage is truncated by Superstep's capped checkpoint,
    * not by the store. A failed commit leaves no temporary directory. */
  def commit(spark: SparkSession, name: String, iteration: Int, df: DataFrame,
             deltaL1: Double = 0.0, deltaLinf: Double = 0.0, changed: Long = 0L,
             wallMs: Long = 0L): Unit = {
    val target = dir(name, iteration)
    val tmp = Paths.get(root, name, s".tmp-it=$iteration-${System.nanoTime()}")
    Files.createDirectories(tmp)
    try {
      val dataTmp = tmp.resolve("data")
      df.write.mode("overwrite").parquet(dataTmp.toString)

      val files = {
        val s = Files.list(dataTmp)
        try s.iterator().asScala.toSeq finally s.close()
      }
      val conf = spark.sparkContext.hadoopConfiguration
      // one set of read options for all footers: `ParquetFileReader.open`
      // without them loads a fresh Hadoop Configuration, ~15 ms per file
      val options = HadoopReadOptions.builder(conf).build()
      // Hadoop's hidden-file rule: `_SUCCESS` and `.crc` are not data
      val perPart = files.filterNot { f =>
        val n = f.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }.map { f =>
        val pid = f.getFileName.toString match {
          case StateStore.DataFile(id) => id.toInt
          case n => throw new IllegalStateException(
            s"snapshot $name it=$iteration: $n is not a Spark part-NNNNN data file")
        }
        pid -> footerRowCount(f, conf, options)
      }.groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (pid, rows) => PartitionLineage(pid, rows) }
        .toSeq.sortBy(_.partitionId)
      // memory/storage-cost aggregate (reference counters report peak RSS,
      // utils/utils.h:38-67; here: exact on-disk snapshot bytes)
      val byteSize = files.filter(Files.isRegularFile(_)).map(Files.size).sum
      val manifest = SnapshotManifest(name, iteration, perPart.map(_.rowCount).sum,
        deltaL1, deltaLinf, changed, wallMs, perPart, byteSize)

      // Commit protocol: data first, manifest last, then atomic dir rename.
      Files.writeString(tmp.resolve("manifest.json"), manifest.toJson)
      deleteRecursively(target)
      Files.createDirectories(target.getParent)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable =>
        try deleteRecursively(tmp) catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
  }

  private def footerRowCount(file: Path, conf: Configuration,
                             options: ParquetReadOptions): Long = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HadoopPath(file.toUri), conf), options)
    try reader.getRecordCount finally reader.close()
  }

  /** Highest iteration with a committed manifest, or -1. Torn snapshots
    * (data without manifest) are invisible here — resume skips them. */
  def latestCompleted(name: String): Int = {
    val base = Paths.get(root, name)
    if (!Files.isDirectory(base)) return -1
    val stream = Files.list(base)
    val its =
      try stream.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("it="))
        .filter(p => Files.exists(p.resolve("manifest.json")))
        .map(_.getFileName.toString.stripPrefix("it=").toInt)
        .toSeq
      finally stream.close() // unclosed Files.list leaks a directory fd
    if (its.isEmpty) -1 else its.max
  }

  def load(spark: SparkSession, name: String, iteration: Int): DataFrame =
    spark.read.parquet(dir(name, iteration).resolve("data").toString)

  def manifestJson(name: String, iteration: Int): String =
    Files.readString(dir(name, iteration).resolve("manifest.json"))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  private implicit class IterScala[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }
}

object StateStore {
  /** Spark's data file name: `part-<partition id>-<job uuid>-c<file>.<ext>`. */
  private val DataFile = """part-(\d+)-.*""".r
}
