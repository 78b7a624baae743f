package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every path the engine writes under /tmp, built in one place.
  *
  *  - The persisted-artifact root shared by the catalog's
  *    deterministic-twin entries (m1b/m11b/m12b/m3b/m10,
  *    sim_ivf_persisted): a twin persists model-coupled bits under the
  *    per-SF artifact root and BOTH engines recompute the gated math from
  *    the same parquet, so the engine's writes and the oracle's reads
  *    can never diverge.
  *  - The scratch dirs the multi-step entries stage through (the s-, e-
  *    and m-family stores, checkpoints, drops and registries):
  *    `<scratch root>/<name>_<appTag>_<dirTag>`, resolved by
  *    [[scratchDir]] and emptied for a run by [[freshScratchDir]].
  */
object Artifacts {
  private def root(dir: String) =
    s"/tmp/graft_artifacts/${new java.io.File(dir).getName}"

  private val ScratchRoot = "/tmp/graft_scratch"

  /** How long a dead app's dir must sit untouched before it is reaped. */
  private val StaleAfterMs = 6L * 3600 * 1000

  /** THE path-tag for keying a path by an input string (the SF dir, an
    * applicationId): one definition, because a spec that resolves the
    * same path as its entry must agree bit-for-bit. */
  def dirTag(s: String): String =
    java.lang.Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(s))

  /** `<appTag>_<dirTag>`: keys a scratch name by the running app and the
    * input dir. App-tagged so two concurrent apps over the SAME dir never
    * share a store (the memos trust their staged bytes for the app's
    * lifetime); dir-tagged so one app's runs over different SFs don't
    * either. */
  def scratchTag(spark: SparkSession, dir: String): String =
    s"${dirTag(spark.sparkContext.applicationId)}_${dirTag(dir)}"

  /** The scratch dir of stage `name` over input `dir`. A pure path: the
    * specs use it to resolve what an entry staged. */
  def scratchDir(spark: SparkSession, name: String, dir: String): String =
    s"$ScratchRoot/${name}_${scratchTag(spark, dir)}"

  /** [[scratchDir]], emptied for a fresh run. Other apps' dirs of the
    * same `name` that sat untouched past the age gate are reaped (a live
    * concurrent app's dir is freshly modified and never touched); our
    * own dir is deleted, and a failed delete throws. */
  def freshScratchDir(spark: SparkSession, name: String,
                      dir: String): String = {
    val path = scratchDir(spark, name, dir)
    val appTag = dirTag(spark.sparkContext.applicationId)
    val sibling = (java.util.regex.Pattern.quote(name) +
      "_([0-9a-f]+)_[0-9a-f]+").r
    reapStaleWhere(ScratchRoot, {
      case sibling(app) => app != appTag
      case _ => false
    })
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    path
  }

  /** Persist `df` under the per-SF artifact root and read it back, so
    * downstream plans consume the exact persisted bits.
    *
    * Concurrency contract (r13): the build lands in an APP-PRIVATE dir
    * (`<name>__<appTag>`) that this app's readers consume directly —
    * immune to a concurrent same-SF app's rebuild — and the fixed
    * reader path `<root>/<name>` is a NAMED POINTER published onto the
    * newest completed build through [[CommitProtocol.publish]] (r14):
    * POSIX realizes it as the atomically-swapped symlink the DuckDB
    * oracle reads through; an object store realizes it as a
    * pointer-object PUT that readers resolve — the seam owns the
    * primitive, `ObjectStoreSim` crash-proves it. Every artifact is a
    * deterministic function of the SF dir by design — the hash gate
    * requires it — so whichever app's build a reader resolves, the
    * VALUES match. Dead apps' builds reap age-gated. */
  def write(spark: SparkSession, dir: String, name: String, df: DataFrame,
            proto: CommitProtocol = PosixCommit): DataFrame = {
    val appTag = dirTag(spark.sparkContext.applicationId)
    val mine = s"${name}__$appTag"
    val path = s"${root(dir)}/$mine"
    df.write.mode("overwrite").parquet(path)
    proto.publish(root(dir), name, mine)
    reapStaleWhere(root(dir),
      n => n.startsWith(s"${name}__") && n != mine)
    spark.read.parquet(path)
  }

  /** DuckDB-side read of the same artifact — the correctness gate runs
    * at sf0.01, so the oracles read that root. */
  def sql(name: String): String =
    s"read_parquet('/tmp/graft_artifacts/sf0.01/$name/*.parquet')"

  /** Reap the entries of `parent` whose name is `stale` and that have
    * been untouched past the age gate. Age-gating is what makes this
    * safe across PROCESSES (unlike the in-JVM AppCache rule): a live
    * concurrent run's dir is freshly modified and never hit, while dead
    * runs' leftovers stop accumulating on long-lived boxes. */
  def reapStaleWhere(parent: String, stale: String => Boolean): Unit = {
    val cutoff = System.currentTimeMillis() - StaleAfterMs
    Option(new java.io.File(parent).listFiles()).getOrElse(Array.empty)
      .filter(f => stale(f.getName) && f.lastModified() < cutoff)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
