package graft.operators

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** VERSION-MANIFEST COMMITS for the mutable lakes — the concurrent-writer
  * story the single-writer idempotent mutation sequences lacked (round-17
  * verdict item 3): every mutation (purge, compact) commits a new manifest
  * file listing the lake's live data files and ATOMICALLY renames it into
  * place; readers resolve the newest manifest and read exactly its file
  * set. A reader therefore NEVER sees a half-overwritten lake — an
  * in-flight writer's files are invisible until its commit, and a crashed
  * writer's stray files are never folded into later versions (each commit
  * derives its untouched-partition file set from the PREVIOUS manifest,
  * not from a directory listing). This is the snapshot-isolation kernel of
  * the Iceberg/Delta commit protocol (Armbrust et al., VLDB 2020),
  * scoped to what the catalog's gates pin.
  *
  * Commit concurrency is OPTIMISTIC: a writer computes its file set, then
  * tries to create `v{N+1}.manifest` with an atomic no-replace move; if
  * another writer won the version, the move fails loudly and the commit
  * retries against the new current version (re-listing disk, whose
  * in-place mutation semantics make the retry a re-derivation, not a
  * blind re-send). Two interleaved mutation sequences thus serialize into
  * two consecutive versions — last-writer-wins is replaced by
  * detect-and-rederive.
  *
  * THE STATED RETENTION TRADE: the lakes' mutation machinery rewrites
  * partitions IN PLACE (physical deletion is the point of the takedown
  * gates — purged bytes must be GONE, so old versions cannot retain their
  * files). A reader pinned to an OLD manifest version is therefore only
  * guaranteed its files until the next mutation of the same partitions —
  * retention = 0 in Iceberg terms. What the protocol guarantees
  * unconditionally is commit-atomic VISIBILITY: resolving the current
  * manifest yields a complete, consistent version — never a torn one.
  * Production raises retention by deferring the physical delete to a
  * vacuum step; the manifest format needs no change for that.
  */
object LakeManifest {

  private val DirName = "_manifests"
  private val Rx = "^v(\\d+)\\.manifest$".r

  def manifestDir(lake: Path): Path = lake.resolve(DirName)

  /** The newest committed (version, relative file list), if any manifest
    * exists. Resolution is one directory listing + one small file read —
    * the reader-side cost of the protocol. */
  def current(lake: Path): Option[(Int, Seq[String])] = {
    val md = manifestDir(lake)
    if (!Files.isDirectory(md)) return None
    val st = Files.list(md)
    val newest =
      try st.iterator().asScala
        .flatMap(p => Rx.findFirstMatchIn(p.getFileName.toString)
          .map(m => (m.group(1).toInt, p)))
        .toSeq.sortBy(-_._1).headOption
      finally st.close()
    newest.map { case (v, p) =>
      (v, new String(Files.readAllBytes(p), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty))
    }
  }

  /** All live DATA files of the lake, relative to its root — partition
    * directories only, underscore-hidden sidecars and manifests excluded
    * (they version with their own laws, not with the data). */
  def listDataFiles(lake: Path): Seq[String] =
    if (!Files.isDirectory(lake)) Seq.empty
    else {
      val st = Files.walk(lake)
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => lake.relativize(p).toString)
        .filter(rel => !rel.startsWith("_") && !rel.startsWith(".") &&
          !rel.contains("/_") && !rel.contains("/."))
        .toSeq.sorted
      finally st.close()
    }

  private def underTouched(rel: String, partCol: String,
      touched: Seq[Int]): Boolean =
    touched.exists(c => rel.startsWith(s"$partCol=$c/"))

  /** Commit the post-mutation version: untouched partitions keep the
    * PREVIOUS manifest's files (never a directory listing — a crashed
    * writer's strays must not be adopted); touched partitions take
    * exactly what the in-place rewrite left on disk. First commit of a
    * legacy lake (no manifest yet) snapshots the current listing as its
    * baseline. Retries on version collision (see the object scaladoc).
    * Returns the committed version. */
  def commitMutation(lake: Path, partCol: String, touched: Seq[Int]): Int = {
    val md = manifestDir(lake)
    Files.createDirectories(md)
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 100,
        s"manifest commit on $lake: 100 consecutive version collisions — a livelock, not contention")
      val (prevV, prevFiles) = current(lake)
        .getOrElse((0, listDataFiles(lake).filterNot(underTouched(_, partCol, touched))))
      val kept = prevFiles.filterNot(underTouched(_, partCol, touched))
      val added = listDataFiles(lake).filter(underTouched(_, partCol, touched))
      val next = prevV + 1
      val tmp = md.resolve(s".v$next.manifest.tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, ((kept ++ added).sorted.mkString("\n") + "\n")
        .getBytes("UTF-8"))
      try {
        Files.move(tmp, md.resolve(s"v$next.manifest"),
          StandardCopyOption.ATOMIC_MOVE)
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp) // lost the race: re-derive and retry
      }
    }
    -1 // unreachable
  }

  /** VACUUM — the maintenance step the commit protocol's crash story
    * needs: a writer that dies between writing data files and winning
    * its manifest commit leaves stray files no version will ever adopt
    * (commits derive untouched-partition file sets from the PREVIOUS
    * manifest, never a directory listing — exactly so strays are not
    * resurrected) plus orphaned `.tmp` manifest files. Those bytes are
    * invisible to every manifest-resolved read, but they are still
    * bytes at rest — for a purged document, bytes a takedown obligation
    * says must not exist. Vacuum deletes every data file the CURRENT
    * manifest does not reference, prunes partition directories emptied
    * by the deletion, and sweeps manifest tmp litter. Old manifest
    * VERSIONS are kept (an audit trail of committed states; their files
    * are already gone wherever a later in-place rewrite touched them —
    * the retention-0 trade in the object scaladoc).
    *
    * CONCURRENCY CONTRACT, stated: vacuum runs under the same
    * single-writer discipline as the mutations themselves (production
    * systems age-gate deletions to tolerate laggard writers; with
    * retention 0 there is nothing an age gate would save). Its safety
    * target is CRASHED writers, not concurrent ones. No-op without a
    * committed manifest — an unversioned lake has no live-set
    * definition to vacuum against. Returns the deleted relative paths
    * (data strays; tmp sweep is not reported). */
  def vacuum(lake: Path): Seq[String] = current(lake) match {
    case None => Seq.empty
    case Some((_, live)) =>
      val liveSet = live.toSet
      val dead = listDataFiles(lake).filterNot(liveSet)
      dead.foreach(rel => Files.deleteIfExists(lake.resolve(rel)))
      // prune directories the deletion emptied, bottom-up, never the root
      dead.map(rel => lake.resolve(rel).getParent).distinct
        .foreach { d =>
          var cur = d
          while (cur != null && cur != lake && Files.isDirectory(cur) && {
            val st = Files.list(cur)
            try !st.iterator().hasNext finally st.close()
          }) {
            Files.delete(cur)
            cur = cur.getParent
          }
        }
      // sweep crashed commits' tmp manifests
      val md = manifestDir(lake)
      if (Files.isDirectory(md)) {
        val st = Files.list(md)
        try st.iterator().asScala
          .filter(_.getFileName.toString.startsWith("."))
          .toSeq.foreach(Files.deleteIfExists(_))
        finally st.close()
      }
      dead
  }
}
