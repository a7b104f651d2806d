package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one store behind every persisted index ([[MinhashIndex]],
  * [[IvfIndex]]): a UNION ALL of parquet
  * segments behind one atomic manifest. A companion declares its kind name,
  * its ordered int parameters, its data sub-directories with their column
  * lists, and how to take its case class apart and build it back; the
  * lifecycle lives here.
  *
  *  - Layout: `dir/<sub>/<segment>/` per data sub-directory, and
  *    `dir/index.json` = `format`, the parameters in order, `segments`,
  *    `absorbed`.
  *  - Commit order: segment data lands FIRST; `index.json`, written to a
  *    temp file and ATOMIC_MOVE'd into place, is the commit point. A crash
  *    in between leaves an unlisted, invisible directory that a retry
  *    overwrites and [[vacuum]] reclaims.
  *  - `segments` hold the live data; `absorbed` are names rewritten into a
  *    compacted segment. Their union is the idempotency domain, so a
  *    micro-batch replayed after compaction stays a no-op (recomputing it
  *    would match the batch against its own rows in the grown index).
  *  - Loaded frames are plain parquet scans of the live segments: stable
  *    storage IS the materialization, re-read per plan branch.
  *
  * SINGLE WRITER per index directory: the manifest update is a
  * read-modify-write guarded only by the ATOMIC_MOVE, so callers serialize
  * every mutator (write/append/compact/vacuum) of one directory.
  *
  * `D` is the append delta: the index itself, except for [[IvfIndex]],
  * whose delta is a frame assigned against its frozen centroids.
  */
abstract class SegmentedManifest[I, D](kind: String, paramNames: Seq[String],
    data: (String, Seq[String])*) {
  import SegmentedManifest._

  type Meta = SegmentedManifest.Meta

  /** `idx`'s parameters in `paramNames` order and its frames in `data` order. */
  protected def parts(idx: I): (Seq[Int], Seq[DataFrame])

  /** A delta's parameters (None: it carries none to check) and its frames. */
  protected def deltaParts(delta: D): (Option[Seq[Int]], Seq[DataFrame])

  /** [[deltaParts]] of a kind whose delta is the index itself. */
  protected final def selfDelta(idx: I): (Option[Seq[Int]], Seq[DataFrame]) = {
    val (params, frames) = parts(idx)
    (Some(params), frames)
  }

  /** The index over a committed manifest's parameters and live scans. */
  protected def build(spark: SparkSession, dir: String, params: Seq[Int],
      frames: Seq[DataFrame]): I

  def readMeta(dir: String): Meta = {
    val p = Paths.get(dir, "index.json")
    require(Files.exists(p), s"no $kind manifest at $p")
    val root = mapper.readTree(Files.readAllBytes(p))
    // `absorbed` is absent in manifests written before compaction existed
    def names(field: String): Seq[String] =
      if (root.has(field)) root.get(field).elements().asScala.map(_.asText()).toSeq
      else Seq.empty
    Meta(paramNames.map(root.get(_).asInt()), names("segments"), names("absorbed"))
  }

  /** Write `idx` as the single segment `base`, replacing any manifest at
    * `dir` and resetting the ingest history: a rebuild is an explicit new
    * lineage, so earlier segment names become appendable again, and stale
    * data is orphaned (never read) until [[vacuum]].
    */
  def write(idx: I, dir: String): Unit = {
    val (params, frames) = parts(idx)
    writeSegment(dir, "base", frames)
    commit(dir, Meta(params, Seq("base"), Seq.empty))
  }

  /** Append `delta` as `segment` idempotently: false, touching nothing,
    * when `segment` is already committed (live or absorbed) — the streaming
    * replay contract, whose segment name is the micro-batch id. Parameters
    * that differ from the manifest's fail loudly: rows built under
    * different parameters are not comparable.
    */
  def appendSegment(delta: D, dir: String, segment: String): Boolean = {
    checkSegmentName(segment)
    val m = readMeta(dir)
    val (params, frames) = deltaParts(delta)
    params.foreach(p => require(p == m.params,
      s"$kind at $dir has ${show(m.params)}; delta has ${show(p)} — rows built " +
        "under different parameters are not comparable"))
    if (m.committed.contains(segment)) return false
    writeSegment(dir, segment, frames)
    commit(dir, m.copy(segments = m.segments :+ segment))
    true
  }

  /** Rewrite the live segments into ONE fresh segment, so a long-running
    * ingest (one segment per micro-batch) does not accrete the tiny-file
    * storm the snapshot path measured at 9x wall. Same commit order as an
    * append: the data lands in a never-committed directory, then the
    * manifest swap commits; the absorbed names keep replays no-ops.
    * Returns the new segment name, or None when already one segment.
    */
  def compact(spark: SparkSession, dir: String): Option[String] = {
    val m = readMeta(dir)
    if (m.segments.size <= 1) return None
    val name = freshCompactName(m.committed)
    writeSegment(dir, name, scans(spark, dir, m.segments))
    commit(dir, Meta(m.params, Seq(name), (m.absorbed ++ m.segments).distinct))
    Some(name)
  }

  /** Delete the data directories the committed manifest does not list live
    * (compacted-away segments, crash leftovers, rebuild orphans); never a
    * live segment or the manifest. Returns the deleted `sub/name` paths.
    * Must not run beside an in-flight append, whose segment it would sweep.
    */
  def vacuum(dir: String): Seq[String] = {
    val live = readMeta(dir).segments.toSet
    for {
      (sub, _) <- data
      c <- children(Paths.get(dir, sub))
      if Files.isDirectory(c) && !live.contains(c.getFileName.toString)
    } yield {
      deleteRecursively(c)
      s"$sub/${c.getFileName}"
    }
  }

  /** Load the committed index; an uncommitted crash leftover is never read. */
  def load(spark: SparkSession, dir: String): I = {
    val m = readMeta(dir)
    require(m.segments.nonEmpty, s"$kind at $dir has no committed segments")
    build(spark, dir, m.params, scans(spark, dir, m.segments))
  }

  private def show(params: Seq[Int]): String =
    paramNames.zip(params).map { case (n, v) => s"$n=$v" }.mkString("(", ", ", ")")

  private def scans(spark: SparkSession, dir: String, segs: Seq[String]): Seq[DataFrame] =
    data.map { case (sub, _) => spark.read.parquet(segs.map(s => s"$dir/$sub/$s"): _*) }

  private def writeSegment(dir: String, segment: String, frames: Seq[DataFrame]): Unit =
    data.zip(frames).foreach { case ((sub, cols), df) =>
      df.select(cols.map(col): _*).write.mode("overwrite").parquet(s"$dir/$sub/$segment")
    }

  /** The commit point: the manifest lands in a temp file, then ATOMIC_MOVEs. */
  private def commit(dir: String, m: Meta): Unit = {
    val root = mapper.createObjectNode()
    root.put("format", 1)
    paramNames.zip(m.params).foreach { case (n, v) => root.put(n, v) }
    val segments = root.putArray("segments")
    m.segments.foreach(segments.add)
    val absorbed = root.putArray("absorbed")
    m.absorbed.foreach(absorbed.add)
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, ".index.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    Files.move(tmp, Paths.get(dir, "index.json"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** First `compacted_N` never committed; a crashed compact's leftover is overwritten. */
  private def freshCompactName(taken: Set[String]): String =
    Iterator.from(0).map(i => s"compacted_$i").find(!taken.contains(_)).get
}

object SegmentedManifest {

  /** A committed manifest: parameters in declared order, live and absorbed names. */
  final case class Meta(params: Seq[Int], segments: Seq[String], absorbed: Seq[String]) {
    /** Every segment name ever committed — the idempotency domain. */
    def committed: Set[String] = segments.toSet ++ absorbed
  }

  private val mapper = new ObjectMapper()

  /** A segment name is a path component under the index and under ingest
    * output directories, so it must be a plain file-name token with at
    * least one letter or digit: Hadoop normalizes `x/.` to `x` and `x/..`
    * to `x`'s parent, so a dot-only name would overwrite a whole tree.
    */
  def checkSegmentName(segment: String): Unit =
    require(segment.exists(_.isLetterOrDigit) && segment.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"segment name '$segment' must be a plain file-name token with a letter or digit")

  private def children(p: Path): Vector[Path] =
    if (!Files.isDirectory(p)) Vector.empty
    else {
      val ds = Files.list(p)
      try ds.iterator().asScala.toVector finally ds.close()
    }

  private def deleteRecursively(p: Path): Unit = {
    children(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
