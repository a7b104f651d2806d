package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._


/** Iceberg-layout-compatible snapshot shim over parquet (SURVEY.md §7.4).
  *
  * No Iceberg runtime jar exists in this image, so the semantics the north
  * rule exercises are implemented directly: immutable JSON snapshot
  * manifests with parent lineage, atomic commit via pointer rename,
  * time-travel by snapshot id, and checkpoint-resume at snapshot (bucket)
  * granularity — a restarted job reads the committed bucket list and only
  * processes missing buckets. Per-bucket lineage rows (docs, tables, parse
  * failures, wall time, file list) live in the manifest and surface as the
  * metrics table.
  */
object Snapshots {

  private val mapper = new ObjectMapper()

  final case class BucketLineage(
      bucket: Int,
      rows: Long,
      tables: Long,
      parseFailures: Long,
      bytesStripped: Long,
      wallShareMs: Long, // even share of the one-job wall across the run's pending buckets — NOT a measured per-bucket cost
      snapshotId: Long,
      files: Seq[String]
  )

  final case class Manifest(
      snapshotId: Long,
      parentId: Long,
      committed: Seq[BucketLineage]
  )

  private def snapshotsDir(outDir: String): Path = Paths.get(outDir, "_snapshots")

  def readCurrent(outDir: String): Option[Manifest] = {
    val ptr = snapshotsDir(outDir).resolve("current")
    if (!Files.exists(ptr)) return None
    val name = new String(Files.readAllBytes(ptr), StandardCharsets.UTF_8).trim
    readManifestFile(snapshotsDir(outDir).resolve(name))
  }

  private def readManifestFile(p: Path): Option[Manifest] = {
    if (!Files.exists(p)) return None
    val root = mapper.readTree(Files.readAllBytes(p))
    val committed = root.get("committed").elements().asScala.map { e =>
      BucketLineage(
        e.get("bucket").asInt(),
        e.get("rows").asLong(),
        e.get("tables").asLong(),
        e.get("parse_failures").asLong(),
        e.get("bytes_stripped").asLong(),
        // field was named wall_ms before the wall_share_ms rename; read the
        // old name too so resume works across the upgrade instead of NPEing
        Option(e.get("wall_share_ms")).orElse(Option(e.get("wall_ms")))
          .map(_.asLong()).getOrElse(0L),
        e.get("snapshot_id").asLong(),
        e.get("files").elements().asScala.map(_.asText()).toSeq
      )
    }.toSeq
    Some(Manifest(root.get("snapshot_id").asLong(), root.get("parent_id").asLong(), committed))
  }

  /** Atomic commit: write immutable snap-<id>.json, then swap the pointer. */
  private def commit(outDir: String, m: Manifest): Unit = {
    val dir = snapshotsDir(outDir)
    Files.createDirectories(dir)
    val root = mapper.createObjectNode()
    root.put("snapshot_id", m.snapshotId)
    root.put("parent_id", m.parentId)
    root.put("schema",
      "url string, lang string, text string, text_sha256 string, n_regions int, " +
      "n_tables int, bytes_stripped bigint, parse_failed boolean, partition_id int, " +
      "spans array<struct>, hints array<struct>")
    val arr = root.putArray("committed")
    m.committed.foreach { b =>
      val e = arr.addObject()
      e.put("bucket", b.bucket)
      e.put("rows", b.rows)
      e.put("tables", b.tables)
      e.put("parse_failures", b.parseFailures)
      e.put("bytes_stripped", b.bytesStripped)
      e.put("wall_share_ms", b.wallShareMs)
      e.put("snapshot_id", b.snapshotId)
      val fs = e.putArray("files")
      b.files.foreach(fs.add)
    }
    val snapFile = dir.resolve(s"snap-${m.snapshotId}.json")
    Files.write(snapFile, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    val tmp = dir.resolve(s".current.tmp.${m.snapshotId}")
    Files.write(tmp, s"snap-${m.snapshotId}.json".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve("current"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Checkpoint-resumable extraction run — SINGLE input pass.
    *
    * Input is split into `buckets` deterministic url-hash buckets. All
    * pending (uncommitted) buckets are extracted in ONE Spark job that
    * writes `partitionBy("_bucket")` with dynamic partition overwrite, so a
    * restarted run never rescans the input per bucket: committed buckets
    * are pruned by the manifest before the job, partially-written bucket
    * directories from a crashed attempt are atomically replaced by the
    * overwrite, and per-bucket lineage (rows, tables, failures, files) is
    * assembled afterwards from the committed file listing plus one
    * partition-pruned aggregate over the (much smaller) output. At table
    * scale the bucket filter prunes input partitions when the table is
    * written hash-clustered on url (the Snapshots layout itself).
    *
    * Commit granularity is unchanged: one immutable snapshot per bucket,
    * in ascending bucket order, so time travel and crash/resume semantics
    * are identical to the per-bucket design. `failAfterBuckets` injects a
    * crash after that many pending buckets are committed (the single-pass
    * job then only covers those buckets) for the resume test.
    *
    * Returns (bucketsProcessed, bucketsSkipped).
    */
  def runResumable(
      spark: SparkSession,
      pages: Dataset[Page],
      outDir: String,
      buckets: Int,
      failAfterBuckets: Int = -1
  ): (Int, Int) = {
    import spark.implicits._
    val start = readCurrent(outDir)
    val done = start.map(_.committed.map(_.bucket).toSet).getOrElse(Set.empty)
    var manifest = start.getOrElse(Manifest(0L, -1L, Seq.empty))
    val pending = (0 until buckets).filterNot(done.contains)
    val skipped = buckets - pending.size
    val inject = failAfterBuckets >= 0 && failAfterBuckets < pending.size
    val run = if (inject) pending.take(failAfterBuckets) else pending

    if (run.nonEmpty) {
      val t0 = System.nanoTime()
      val bucketOf = pmod(xxhash64(col("url")), lit(buckets))
      val pendingPages = pages.toDF()
        .withColumn("_bucket", bucketOf)
        .filter(col("_bucket").isin(run: _*))
        .drop("_bucket")
        .as[Page]
      val dataRoot = Paths.get(outDir, "data")
      Pipeline.extract(spark, pendingPages)
        .toDF()
        .withColumn("_bucket", bucketOf) // deterministic re-derivation from url
        // cluster the OUTPUT by bucket before the partitioned write: without
        // this every task writes a file into every bucket directory
        // (tasks × buckets small files — measured 3x wall at 64 buckets,
        // millions of files at production scale); with it the job writes
        // ~one file per bucket for one exchange of the (already-extracted)
        // output
        .repartition(col("_bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic") // replaces ONLY written buckets
        .partitionBy("_bucket")
        .parquet(dataRoot.toString)

      // per-bucket lineage from ONE partition-pruned pass over the output
      val stats = spark.read.parquet(dataRoot.toString)
        .filter(col("_bucket").isin(run: _*))
        .groupBy(col("_bucket").cast("int").as("_bucket")).agg(
          count(lit(1)), sum(col("n_tables")),
          sum(when(col("parse_failed"), 1L).otherwise(0L)),
          sum(col("bytes_stripped")))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2),
          if (r.isNullAt(3)) 0L else r.getLong(3),
          if (r.isNullAt(4)) 0L else r.getLong(4)))
        .toMap
      val wallShareMs = (System.nanoTime() - t0) / 1000000L / run.size

      run.foreach { b =>
        val dataDir = dataRoot.resolve(s"_bucket=$b")
        val files =
          if (!Files.exists(dataDir)) Seq.empty[String]
          else scala.util.Using.resource(Files.list(dataDir)) { s =>
            s.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(_.toString).toSeq.sorted
          }
        val (rows, tables, failures, stripped) = stats.getOrElse(b, (0L, 0L, 0L, 0L))
        val newId = manifest.snapshotId + 1
        manifest = Manifest(newId, manifest.snapshotId,
          manifest.committed :+ BucketLineage(b, rows, tables, failures, stripped,
            wallShareMs, newId, files))
        commit(outDir, manifest)
      }
    }
    if (inject)
      throw new RuntimeException(
        s"injected failure before bucket ${pending(failAfterBuckets)}")
    (run.size, skipped)
  }

  /** Plan a read from the current snapshot's committed file list (the
    * manifest prunes files before Spark ever sees them — the Iceberg-style
    * scan planning the survey describes).
    */
  def readTable(spark: SparkSession, outDir: String): Option[DataFrame] = {
    readCurrent(outDir).flatMap { m =>
      val files = m.committed.flatMap(_.files)
      if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
    }
  }

  /** Lineage rows as a DataFrame (the metrics table). */
  def lineage(spark: SparkSession, outDir: String): Option[DataFrame] = {
    import spark.implicits._
    readCurrent(outDir).map { m =>
      m.committed.map(b => (b.bucket, b.rows, b.tables, b.parseFailures, b.bytesStripped,
        b.wallShareMs, b.snapshotId))
        .toDF("bucket", "rows", "tables", "parse_failures", "bytes_stripped", "wall_share_ms",
          "snapshot_id")
    }
  }
}
