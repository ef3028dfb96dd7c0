package graft.transcript

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.ObjectMapper
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

/** JSON manifest with atomic commit (write-temp + rename — the sandbox
  * stand-in for an object-store conditional put; the TableSource trait
  * boundary keeps the swap to a real catalog mechanical). Idempotent:
  * re-recording a partition overwrites its entry.
  *
  * Single-writer per manifest file (the runner is): entries are parsed
  * once at construction and cached — `record` appends in memory and
  * rewrites, so committing P partitions costs O(P) total entry parses,
  * not the O(P^2) that re-reading the growing file on every commit
  * would (at the north rule's thousands of partitions that difference
  * is real driver time). */
class CheckpointManifest(path: String) {
  private val mapper = new ObjectMapper()
  private val file: Path = Paths.get(path)

  private var entries: Map[Int, PartitionEntry] = parse()

  private def parse(): Map[Int, PartitionEntry] = {
    if (!Files.exists(file)) return Map.empty
    val root = mapper.readTree(Files.readString(file))
    val arr = root.get("partitions")
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
    val all = entries
    val root = mapper.createObjectNode()
    val arr = root.putArray("partitions")
    for (e <- all.values.toSeq.sortBy(_.partitionId)) {
      val n = arr.addObject()
      n.put("partitionId", e.partitionId)
      n.put("snapshotId", e.snapshotId)
      n.put("constraintHash", e.constraintHash)
      n.put("rowsScanned", e.rowsScanned)
      n.put("violations", e.violations)
      n.put("wallMs", e.wallMs)
    }
    CheckpointManifest.writeAtomically(file,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}

object CheckpointManifest {
  /** Replace `file` with `text` via a temp sibling moved over it: a reader
    * sees the old or the new content, never a truncated file. */
  private[transcript] def writeAtomically(file: Path, text: String): Unit = {
    if (file.getParent != null) Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stable hash of the active constraint set — changing the suite
    * invalidates prior completions. */
  def constraintHash(constraintIds: Seq[String]): String =
    graft.io.Digests.sha8(constraintIds.sorted.mkString("\n"))
}
