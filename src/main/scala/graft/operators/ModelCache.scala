package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Disk-backed second level under the per-JVM model memos
  * ([[AnnTuning.tunedLsh]], [[KMeans.fitMemoized]],
  * [[PqIndex.fitMemoized]], the d41 sketch memo): train/tune ONCE per
  * corpus on this machine, serve every later JVM from the persisted
  * artifact. This is what keeps a fresh bench/verify process's first pass
  * near warm-pass cost — the in-JVM memo only amortizes within one
  * process, and the driver's bench runs in a new JVM every round.
  *
  * OPT-IN by construction: the layer is active only when
  * `-Dgraft.model.cache=<dir>` (or `GRAFT_MODEL_CACHE`) is set —
  * [[graft.Bench]] (except in cold mode, which refuses a set root) and
  * [[graft.Verify]] set it to `target/graft-models`;
  * specs never do, so determinism/retrain pins keep exercising real
  * training (sbt forks both `run` and `test`, so the property cannot leak
  * between them).
  *
  * STALENESS is handled by keying every artifact on a fingerprint of the
  * corpus's underlying files (name, length, mtime via `df.inputFiles` —
  * driver-side filesystem metadata, no Spark job): a regenerated corpus
  * changes the fingerprint, misses the cache, and retrains — a stale
  * decision is never served. Purely in-memory frames (spec fixtures) have
  * no input files and bypass the layer entirely.
  */
object ModelCache {

  def root: Option[String] =
    sys.props.get("graft.model.cache")
      .orElse(sys.env.get("GRAFT_MODEL_CACHE"))
      .filter(_.nonEmpty)

  /** The drivers' opt-in bootstrap (Bench + Verify call this, specs never
    * do): default the cache to `target/graft-models` unless the property
    * or env var already chose a location. ONE definition so the two
    * drivers can never split their cache roots (and their fingerprint
    * keys) by editing a copied block.
    */
  def enableDefaultIfUnset(): Unit =
    if (root.isEmpty)
      sys.props("graft.model.cache") =
        new java.io.File("target/graft-models").getAbsolutePath

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fingerprint of the frame's backing files, or None when the frame has
    * none (in-memory fixture) — metadata-only, no scan.
    */
  def fingerprint(df: DataFrame): Option[String] = {
    val files = df.inputFiles
    if (files.isEmpty) None
    else try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val listing = files.sorted.map { f =>
        val p = new Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        s"$f|${st.getLen}|${st.getModificationTime}"
      }.mkString("\n")
      Some(md5hex(listing))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Serve `kind`'s artifact for (`logicalKey`, corpus fingerprint) from
    * disk when present, else run `train` and persist. Any load/save
    * failure degrades to plain training (the cache is an optimization,
    * never a correctness dependency). Call from INSIDE the in-JVM memo's
    * thunk so each JVM consults the disk at most once per key.
    */
  def cached[T](kind: String, logicalKey: String, corpus: DataFrame)(
      load: String => T)(save: (String, T) => Unit)(train: => T): T = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val dirOpt = for (r <- root; fp <- fingerprint(corpus))
      yield s"$r/$kind-${md5hex(logicalKey)}-$fp"
    dirOpt match {
      case None => train
      case Some(dir) =>
        val done = new Path(dir, "_GRAFT_DONE")
        val fs = try {
          done.getFileSystem(
            corpus.sparkSession.sessionState.newHadoopConf())
        } catch { case scala.util.control.NonFatal(_) => null }
        if (fs != null && (try fs.exists(done) catch {
              case scala.util.control.NonFatal(_) => false })) {
          try {
            val t = load(dir)
            log.info(s"[graft] model cache HIT $kind ($logicalKey) <- $dir")
            t
          } catch {
            case scala.util.control.NonFatal(e) =>
              log.warn(s"[graft] model cache load failed for $dir — retraining", e)
              train
          }
        } else {
          val t = train
          if (fs != null) try {
            save(dir, t)
            fs.create(done, true).close()
            log.info(s"[graft] model cache STORE $kind ($logicalKey) -> $dir")
          } catch {
            case scala.util.control.NonFatal(e) =>
              log.warn(s"[graft] model cache save failed for $dir — serving in-memory", e)
          }
          t
        }
    }
  }
}
