package graft.core

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

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
  * (default root `/tmp/graft_stage`); each generation dir holds a
  * `.corpus` marker naming its corpus dir, and each artifact dir holds
  * its parquet files, `_SUCCESS` and `_schema.json` — the build's
  * schema, committed with the data, from which every open of the
  * artifact reads it (no schema-inference job; Spark's file listing
  * skips `_`-prefixed files). The fingerprint folds in
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
  * the same corpus (by `.corpus` marker) and generations whose corpus is
  * gone are pruned best-effort on write.
  *
  * A module's index build ([[buildAll]]) runs its artifact builds
  * concurrently, like the reference master handing out a phase's
  * independent tasks at once (`mr/master.go:36-127`): the builds share
  * their intermediates through the single-flight session memos
  * ([[Memo]]), so an intermediate two builds need is built once, and a
  * build that needs another's output waits for it.
  *
  * `SPARK_GRAFT_STAGE=0` disables the layer (pure session-scoped
  * behavior, e.g. for measuring cold builds).
  */
object Staging {

  /** Bump when ANY staged derivation changes (shingle params, permutation
    * constants, band shape, quantizer structure, PQ dims, …) — the cheap
    * global alternative to per-artifact schema hashes.
    */
  val FormatVersion = "r11-3" // r11-3: no artifact is partitioned; kept_sets lists its shingles sorted

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

  /** The build's schema, committed inside each artifact dir. */
  private val SchemaFile = "_schema.json"

  private def corpusPath(dir: String): String =
    Paths.get(dir).toAbsolutePath.normalize.toString

  /** The store dir of `dir`'s current corpus generation:
    * `<root>/<slug>-<fp>`, a readable (truncated, so not unique) corpus
    * slug plus a content fingerprint of the fingerprint tables.
    */
  private[core] def generationPath(dir: String): Path = {
    val abs = corpusPath(dir)
    val slug = abs.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "").take(80)
    val sig = s"$abs|$FormatVersion" + tableSignature(Paths.get(abs), FingerprintTables)
    val md = java.security.MessageDigest.getInstance("MD5")
    val fp = md.digest(sig.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    Paths.get(root, s"$slug-$fp")
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
      val gen = generationPath(dir)
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

  /** Run `builds` concurrently on a pool of `min(#builds,
    * defaultParallelism)` threads made for this call, wait for every one,
    * then rethrow the first failure (in argument order): no build
    * outlives the call. The pool's threads are started from the caller's
    * thread, so their Spark jobs carry its local properties (job group,
    * description).
    */
  def buildAll(s: SparkSession)(builds: (() => Any)*): Unit = {
    val width = math.min(builds.length, s.sparkContext.defaultParallelism)
    if (width <= 1) { builds.foreach(_()); return }
    val pool = Executors.newFixedThreadPool(width)
    try {
      val pending = builds.map(b => pool.submit(new Callable[Any] { def call(): Any = b() }))
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach(throw _)
    } finally pool.shutdownNow()
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
      deps: Seq[String])(build: => DataFrame): DataFrame = {
    if (!enabled) return build
    val dest =
      try generationPath(dir).resolve(name)
      catch { case NonFatal(_) => return build }
    try {
      if (Files.exists(dest.resolve("_SUCCESS")))
        return openStaged(s, dest)
    } catch { case NonFatal(_) => () }
    val df = build
    try {
      val gen = dest.getParent
      val corpus = corpusPath(dir)
      pruneGenerations(gen, corpus)
      Files.createDirectories(gen)
      // the marker is how pruning tells this corpus's generations from
      // those of another corpus with the same (truncated) slug, and
      // sweeps generations whose corpus is gone (spec temp dirs)
      try Files.writeString(gen.resolve(".corpus"), corpus)
      catch { case NonFatal(_) => () }
      val tmp = gen.resolve(s".${name}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      df.write.mode("overwrite").parquet(tmp.toString)
      Files.writeString(tmp.resolve(SchemaFile), df.schema.json)
      try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.io.IOException =>
          // lost a concurrent-builder race (dest appeared) or the move was
          // refused — keep whichever staged copy exists, drop our temp
          deleteRecursively(tmp)
          if (!Files.exists(dest.resolve("_SUCCESS"))) return df
      }
      openStaged(s, dest)
    } catch { case NonFatal(_) => df }
  }

  /** A scan of the committed artifact at `dest` under the schema its
    * build recorded — the one way an artifact is opened. Spark makes the
    * columns nullable, as inference would.
    */
  private[core] def openStaged(s: SparkSession, dest: Path): DataFrame =
    s.read
      .schema(DataType.fromJson(Files.readString(dest.resolve(SchemaFile))).asInstanceOf[StructType])
      .parquet(dest.toString)

  /** Best-effort removal of every generation other than `gen` whose
    * `.corpus` marker names `corpus` (superseded by a regenerated
    * corpus) or a corpus dir that no longer exists
    * (typically spec temp corpora). Slugs are truncated, so two corpora
    * may share one; only the marker tells them apart. Piggybacked on
    * artifact writes, never on the read path.
    */
  private def pruneGenerations(gen: Path, corpus: String): Unit =
    try {
      val rootP = gen.getParent
      if (Files.isDirectory(rootP)) {
        withStream(Files.list(rootP))(
          _.filter(p => p != gen && Files.isRegularFile(p.resolve(".corpus")))
            .foreach { other =>
              val owner = try Files.readString(other.resolve(".corpus")).trim
                catch { case NonFatal(_) => "" }
              if (owner == corpus || (owner.nonEmpty && !Files.exists(Paths.get(owner))))
                deleteRecursively(other)
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
