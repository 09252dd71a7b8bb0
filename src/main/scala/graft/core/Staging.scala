package graft.core

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable staged-index store: the dedup/ANN index builds (MinHash band
  * index, kept-shingle index/sets, passage window index, trained IVF
  * centroids, PQ codebook/codes, near-dup cluster labels) are written
  * once per corpus generation as parquet and re-READ by every later
  * session — the same contract as the reference's persisted `mr-X-Y`
  * intermediate files (`/root/reference/mr/worker.go:63`): pay the build
  * once, then every consumer (batch re-runs, the incremental-ingest
  * probe, the streaming twin) starts from the stored artifact instead of
  * re-tokenizing the corpus. At 100 TB these artifacts ARE the product
  * of the index build job; session-scoped memoization alone would
  * re-run that job per process.
  *
  * Layout: `$SPARK_GRAFT_STAGE_DIR/<corpus>-<fingerprint>/<artifact>`
  * (default root `/tmp/graft_stage`). The fingerprint folds in
  *  - the absolute corpus dir and [[tableSignature]] — the (name, size,
  *    mtime) of every file of the source tables the artifacts derive
  *    from, the same generation rule the session memos ([[Memo]])
  *    apply to every table of the corpus — the driver
  *    regenerates `/root/testdata` between rounds, and a stale index
  *    against fresh data must MISS, never hit;
  *  - [[Staging.FormatVersion]] — bumped whenever any derivation
  *    changes, so an edited build never reads its predecessor's output.
  * Writes go to a temp dir + atomic rename, so a concurrent builder race
  * resolves to one winner and readers never see partial artifacts; any
  * staging I/O failure falls back to the in-memory build (staging is an
  * accelerator, never a correctness dependency). Stale generations of
  * the same corpus are pruned best-effort on write.
  *
  * `SPARK_GRAFT_STAGE=0` disables the layer (pure session-scoped
  * behavior, e.g. for measuring cold builds).
  */
object Staging {

  /** Bump when ANY staged derivation changes (shingle params, permutation
    * constants, band shape, quantizer structure, PQ dims, …) — the cheap
    * global alternative to per-artifact schema hashes.
    */
  val FormatVersion = "r11-1" // r11-1: PQ radial-split codebook (PqMagBits=3, 1 Lloyd round)

  @volatile private var disabledInProcess = false

  /** Disable staging for this JVM — ScaleProbe's ladders measure genuine
    * cold index builds, which a disk hit would silently turn into reads.
    */
  def disableInProcess(): Unit = disabledInProcess = true

  def enabled: Boolean =
    !disabledInProcess && !sys.env.get("SPARK_GRAFT_STAGE").contains("0")

  def root: String = sys.env.getOrElse("SPARK_GRAFT_STAGE_DIR", "/tmp/graft_stage")

  /** The tables any staged artifact may derive from. The fingerprint is
    * CORPUS-wide (one generation dir per corpus state), not per-artifact:
    * per-artifact fingerprints would scatter one corpus's artifacts
    * across sibling dirs that the stale-generation prune then eats.
    * A regeneration of either table rebuilds everything — never wrong,
    * occasionally redundant.
    */
  private val FingerprintTables = Seq("documents", "embeddings")

  /** Stable per-(corpus generation) directory name: a readable corpus
    * slug plus a content fingerprint of the fingerprint tables.
    */
  private def generationDir(dir: String): (String, String) = {
    val abs = Paths.get(dir).toAbsolutePath.normalize.toString
    val slug = abs.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "").take(80)
    val sig = s"$abs|$FormatVersion" + tableSignature(Paths.get(abs), FingerprintTables)
    val md = java.security.MessageDigest.getInstance("MD5")
    val fp = md.digest(sig.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    (slug, fp)
  }

  /** The corpus-generation rule shared by this store and the session
    * memos ([[Memo]]): the (name, size, mtime) of every file of each
    * named table under `dir`, in table-name order, with `:absent` for a
    * missing table. One attribute read per single-file table; a
    * directory-of-files table folds every regular file under it.
    */
  private[core] def tableSignature(dir: Path, tables: Seq[String]): String = {
    val sig = new StringBuilder
    def attrs(p: Path) = Files.readAttributes(p, classOf[BasicFileAttributes])
    tables.sorted.foreach { t =>
      val p = dir.resolve(s"$t.parquet")
      sig.append('|').append(t)
      (try Some(attrs(p)) catch { case _: NoSuchFileException => None }) match {
        case None => sig.append(":absent")
        case Some(a) =>
          val files =
            if (a.isDirectory)
              withStream(Files.walk(p))(
                _.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
                  .map(f => f -> attrs(f)))
            else Seq(p -> a)
          files.foreach { case (f, fa) =>
            sig.append(':').append(f.getFileName).append(':')
              .append(fa.size).append(':')
              .append(fa.lastModifiedTime.toMillis)
          }
      }
    }
    sig.toString
  }

  /** True iff the store already holds at least one committed artifact
    * for `dir`'s CURRENT corpus generation — the warm/cold signal the
    * bench records so a reviewer can tell a cold index-build run from a
    * steady-state one without re-running anything.
    */
  def isWarm(dir: String): Boolean =
    enabled && (try {
      val (slug, fp) = generationDir(dir)
      val gen = Paths.get(root, s"$slug-$fp")
      Files.isDirectory(gen) &&
        withStream(Files.list(gen))(
          _.exists(p => Files.exists(p.resolve("_SUCCESS"))))
    } catch { case NonFatal(_) => false })

  /** Run `f` over a directory stream's iterator, always closing the
    * stream — `Files.list`/`Files.walk` hold an open directory handle
    * until closed, and the bench calls [[isWarm]] once per invocation.
    */
  private[core] def withStream[A](s: java.util.stream.Stream[Path])(
      f: Iterator[Path] => A): A = {
    import scala.jdk.CollectionConverters._
    try f(s.iterator().asScala) finally s.close()
  }

  /** Read the named artifact for this corpus generation if staged, else
    * run `build`, stage its result, and return a scan of the staged
    * copy. The returned frame is always a plain parquet scan on a hit
    * (cheap to re-scan; callers persist if they fan out). On ANY staging
    * failure the in-memory `build` result is returned unstaged. `deps`
    * documents which source tables the artifact derives from
    * (informational; the fingerprint is corpus-wide — see
    * [[FingerprintTables]]).
    */
  def readElseBuild(s: SparkSession, dir: String, name: String,
      deps: Seq[String], partitionCols: Seq[String] = Nil)(
      build: => DataFrame): DataFrame = {
    if (!enabled) return build
    val dest =
      try {
        val (slug, fp) = generationDir(dir)
        Paths.get(root, s"$slug-$fp", name)
      } catch { case NonFatal(_) => return build }
    try {
      if (Files.exists(dest.resolve("_SUCCESS")))
        return s.read.parquet(dest.toString)
    } catch { case NonFatal(_) => () }
    val df = build
    try {
      val gen = dest.getParent
      pruneStaleGenerations(gen)
      pruneOrphanGenerations()
      Files.createDirectories(gen)
      // record the corpus path so generations whose corpus is GONE (e.g.
      // spec-created temp dirs, deleted after the suite) can be swept —
      // their unique paths mean the same-slug prune never fires for them
      try Files.writeString(gen.resolve(".corpus"),
        Paths.get(dir).toAbsolutePath.normalize.toString)
      catch { case NonFatal(_) => () }
      val tmp = gen.resolve(s".${name}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp.toString)
      try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.io.IOException =>
          // lost a concurrent-builder race (dest appeared) or the move was
          // refused — keep whichever staged copy exists, drop our temp
          deleteRecursively(tmp)
          if (!Files.exists(dest.resolve("_SUCCESS"))) return df
      }
      s.read.parquet(dest.toString)
    } catch { case NonFatal(_) => df }
  }

  /** A FRESH parquet scan of an already-staged artifact, or None when
    * the store holds no committed copy (disabled layer, cold store, or
    * a failed stage). Callers that normally consume a session-persisted
    * copy of the artifact use this to re-enter the parquet scan when a
    * literal filter can prune it (partition directories / row groups) —
    * pruning never reaches an InMemoryRelation.
    */
  def stagedScan(s: SparkSession, dir: String, name: String): Option[DataFrame] =
    if (!enabled) None
    else
      try {
        val (slug, fp) = generationDir(dir)
        val dest = Paths.get(root, s"$slug-$fp", name)
        if (Files.exists(dest.resolve("_SUCCESS")))
          Some(s.read.parquet(dest.toString))
        else None
      } catch { case NonFatal(_) => None }

  /** Best-effort removal of OTHER generations of the same corpus slug —
    * the driver regenerates testdata between rounds and the superseded
    * fingerprint dirs would otherwise accumulate forever.
    */
  private def pruneStaleGenerations(gen: Path): Unit =
    try {
      val slug = gen.getFileName.toString.dropRight(17) // strip "-<16-hex fp>"
      val parent = gen.getParent
      if (slug.nonEmpty && Files.isDirectory(parent)) {
        withStream(Files.list(parent))(
          _.filter(p => p != gen && Files.isDirectory(p))
            .filter(_.getFileName.toString.startsWith(slug + "-"))
            // same slug, different fingerprint = a superseded generation
            .filter(_.getFileName.toString.length == gen.getFileName.toString.length)
            .foreach(deleteRecursively))
      }
    } catch { case NonFatal(_) => () }

  /** Sweep generations whose recorded corpus dir no longer exists —
    * typically staged copies of test-suite temp corpora. Best-effort,
    * piggybacked on artifact writes (never on the read path).
    */
  private def pruneOrphanGenerations(): Unit =
    try {
      val rootP = Paths.get(root)
      if (Files.isDirectory(rootP)) {
        withStream(Files.list(rootP))(
          _.filter(Files.isDirectory(_))
            .foreach { gen =>
              val marker = gen.resolve(".corpus")
              if (Files.isRegularFile(marker)) {
                val corpus = try Files.readString(marker).trim
                  catch { case NonFatal(_) => "" }
                if (corpus.nonEmpty && !Files.exists(Paths.get(corpus)))
                  deleteRecursively(gen)
              }
            })
      }
    } catch { case NonFatal(_) => () }

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p))
        withStream(Files.walk(p).sorted(java.util.Comparator.reverseOrder()))(
          _.foreach(f => try Files.delete(f) catch { case NonFatal(_) => () }))
    } catch { case NonFatal(_) => () }
}
