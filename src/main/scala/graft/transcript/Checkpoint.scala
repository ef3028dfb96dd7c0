package graft.transcript

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.io.TextFile
import scala.jdk.CollectionConverters._

/** Per-partition completion record with lineage: a partition is skippable
  * on resume only when BOTH the data snapshot and the constraint set are
  * unchanged (north rule: "checkpoint manifest records completed partition
  * IDs with lineage (snapshot-id, constraint-set hash) and per-partition
  * metrics"). */
final case class PartitionEntry(
    partitionId: Int,
    snapshotId: String,
    constraintHash: String,
    rowsScanned: Long,
    violations: Long,
    wallMs: Long)

/** JSON manifest at a path of any Hadoop FileSystem scheme, like the
  * table's, committed atomically by [[TextFile.write]] (the stand-in for an
  * object-store conditional put; the TableSource trait boundary keeps the
  * swap to a real catalog mechanical). The Hadoop configuration is the
  * active session's at construction. Idempotent: re-recording a partition
  * overwrites its entry.
  *
  * Single-writer per manifest file (the runner is): entries are parsed
  * once at construction and cached — `record` appends in memory and
  * rewrites, so committing P partitions costs O(P) total entry parses,
  * not the O(P^2) that re-reading the growing file on every commit
  * would (at the north rule's thousands of partitions that difference
  * is real driver time). */
class CheckpointManifest(path: String) {
  import CheckpointManifest.mapper
  private val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  private var entries: Map[Int, PartitionEntry] = parse()

  private def parse(): Map[Int, PartitionEntry] = {
    val arr = TextFile.read(path, conf).map(mapper.readTree(_).get("partitions")).orNull
    if (arr == null) return Map.empty
    // a legacy or partially-written entry (missing/null fields) is INVALID
    // lineage, not a crash: dropping it re-validates that partition, which
    // is the safe direction
    arr.elements().asScala.flatMap { n =>
      def txt(f: String) = Option(n.get(f)).filterNot(_.isNull).map(_.asText())
      def num(f: String) = Option(n.get(f)).filterNot(_.isNull).filter(_.isNumber).map(_.asLong())
      for {
        pid <- num("partitionId")
        snap <- txt("snapshotId")
        ch <- txt("constraintHash")
        rows <- num("rowsScanned")
        vio <- num("violations")
        wall <- num("wallMs")
      } yield pid.toInt -> PartitionEntry(pid.toInt, snap, ch, rows, vio, wall)
    }.toMap
  }

  def load(): Map[Int, PartitionEntry] = synchronized(entries)

  /** True when `p` was already validated under the same lineage — THE skip
    * predicate; [[ResumableRunner]] delegates here so the two can't drift. */
  def isComplete(p: Int, snapshotId: String, constraintHash: String): Boolean = synchronized {
    entries.get(p).exists(e => e.snapshotId == snapshotId && e.constraintHash == constraintHash)
  }

  def record(entry: PartitionEntry): Unit = synchronized {
    entries += (entry.partitionId -> entry)
    TextFile.write(path, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
      Map("partitions" -> entries.values.toSeq.sortBy(_.partitionId))), conf)
  }
}

object CheckpointManifest {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Stable hash of the active constraint set — changing the suite
    * invalidates prior completions. */
  def constraintHash(constraintIds: Seq[String]): String =
    graft.io.Digests.sha8(constraintIds.sorted.mkString("\n"))
}
