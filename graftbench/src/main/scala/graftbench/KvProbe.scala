package graftbench

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable

/** graft's kv storage as seen from outside, whatever the workload: every
  * graft_kv table under a directory (a directory holding a
  * `_graft_manifest.json`) and the keyed-table catalog file. The traced
  * loop takes a snapshot before and after each op. */
object KvProbe {
  val Manifest = "_graft_manifest.json"

  /** A table's manifest version, the manifest file's identity (every
    * publish renames a new file over it) and the table dir's bytes. */
  final case class Table(version: Long, identity: String, bytes: Long)
  final case class Snapshot(tables: Map[String, Table], catalogSeq: Long, catalogBytes: Long) {
    def bytes: Long = tables.values.map(_.bytes).sum + catalogBytes
  }

  def snapshot(root: Path, catalog: Path): Snapshot = {
    val tables = manifestDirs(root).flatMap { dir =>
      try {
        val a = Files.readAttributes(dir.resolve(Manifest), classOf[BasicFileAttributes])
        val d = dir.toString
        Some(d -> Table(graft.sources.GraftKvSink.manifestVersion(d),
          s"${a.fileKey()}|${a.lastModifiedTime().toMillis}", Workloads.bytesUnder(dir)))
      } catch { // dropped while we looked
        case _: IOException | _: java.io.UncheckedIOException => None
      }
    }.toMap
    Snapshot(tables, catalogSeq(catalog), Workloads.bytesUnder(catalog))
  }

  /** Commits between two snapshots: manifest version bumps, every publish
    * of a table that is new or was dropped and recreated (its version
    * restarts at 0), and keyed-catalog sequence bumps. */
  def commits(a: Snapshot, b: Snapshot): Long =
    b.tables.iterator.map { case (dir, t) =>
      a.tables.get(dir) match {
        case Some(p) if p.identity == t.identity => 0L
        case Some(p) if t.version > p.version => t.version - p.version
        case _ => t.version + 1
      }
    }.sum + math.max(0L, b.catalogSeq - a.catalogSeq)

  /** Directories under `root` that hold a graft_kv manifest. */
  def manifestDirs(root: Path): Seq[Path] = {
    val out = mutable.ArrayBuffer[Path]()
    if (Files.isDirectory(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (f.getFileName.toString == Manifest) out += f.getParent
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    out.toSeq
  }

  private val SeqRe = """^\{\s*"seq"\s*:\s*(\d+)""".r.unanchored
  /** The keyed-table catalog's sequence number, -1 when there is none. */
  def catalogSeq(p: Path): Long =
    try {
      val head = new String(Files.readAllBytes(p).take(64), "UTF-8")
      head match { case SeqRe(n) => n.toLong case _ => -1L }
    } catch { case _: IOException => -1L }
}
