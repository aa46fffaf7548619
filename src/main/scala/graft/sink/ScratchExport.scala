package graft.sink

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

/** Shared once-per-(JVM, key) scratch-export machinery for the format
  * round-trip queries (q173 ORC, q189 CSV, q192 Avro): per-key lazy
  * memoization — [[TrieMap.getOrElseUpdate]] installs exactly one
  * holder per key (a losing racer's holder is discarded unevaluated)
  * and the `lazy val` serializes the build per KEY only, so two
  * different datasets export concurrently — plus shutdown-hook
  * deletion of every scratch tree this JVM created. Extracted r12
  * after CsvQueries and AvroQueries carried line-for-line copies (the
  * BatchCommitLog lesson: duplicated protocol code means the next fix
  * lands once and silently misses the twin). */
private[graft] object ScratchExport {

  private final class Holder[T](build: () => T) { lazy val value: T = build() }
  private val holders = TrieMap[String, Holder[_]]()

  /** Runs `build` at most once per `key` per JVM (lazily, on first
    * demand) and memoizes its result. */
  def once[T](key: String)(build: => T): T =
    holders.getOrElseUpdate(key, new Holder(() => build))
      .asInstanceOf[Holder[T]].value

  /** Creates a fresh scratch directory registered for recursive
    * deletion at JVM exit. */
  def scratchDir(prefix: String): String = {
    val out = Files.createTempDirectory(prefix).toString
    tempDirs.add(out)
    out
  }

  /** Writes `df` as exactly ONE parquet file `destDir/name` with its
    * mtime set to now + `mtimeOffsetSec` — the building block for
    * file-streaming replay fixtures whose BATCH STRUCTURE is the file
    * structure (StreamGraded's q313 sentinel waves, the q315/q316 CDC
    * and ingest batches): under `maxFilesPerTrigger = 1` the file
    * source's mtime order IS the batch order, so callers space offsets
    * ≥ 60 s apart. The single-file constraint is a GRADING-HARNESS
    * shape (deterministic batch membership), not a data-path one —
    * deployments stream whatever file/offset layout their source has.
    * The file is [[Layout.writeOneFile]]'s, so no session conf (such as
    * `spark.sql.files.maxRecordsPerFile`) can split a batch. */
  private[graft] def writeSingleFile(df: org.apache.spark.sql.DataFrame,
                                     destDir: String, name: String,
                                     mtimeOffsetSec: Long): Unit = {
    val (src, _) = Layout.writeOneFile(df,
      Paths.get(scratchDir("graft-onefile-")), "parquet")
    val dst = Paths.get(destDir, name)
    Files.move(src, dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + mtimeOffsetSec * 1000))
  }

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  sys.addShutdownHook {
    import scala.jdk.CollectionConverters._
    tempDirs.iterator().asScala.foreach { d =>
      val p = Paths.get(d)
      if (Files.exists(p)) {
        // close the walk stream (it holds directory handles) and
        // surface — not swallow — paths that would leak: a partially
        // undeletable tree should say so on the way out (r12 advice)
        val walk = Files.walk(p)
        try {
          walk.sorted(java.util.Comparator.reverseOrder()).forEach { q =>
            try {
              if (!Files.deleteIfExists(q))
                () // already gone — fine
            } catch {
              case e: java.io.IOException =>
                System.err.println(s"[scratch-export] leak: $q (${e.getMessage})")
            }
          }
        } finally walk.close()
      }
    }
  }
}
