package graft

import graft.functions.{Bpe, DecodeFns, OddsFns, TextFns, TimeFns}
import graft.functions.SimFns.toDouble
import graft.operators._
import graft.sources.BettingFixture
import graft.streaming.{EventStreams, WagerBook}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared plumbing for the query inventory (split from the single-file
  * registry per VERDICT r14 #8 — pure relocation, no behavior change):
  * the Q record, cross-engine decimal-sum helper, and the write-once
  * persisted-parquet-artifact store every family's incremental-index
  * queries load from. The family traits chain linearly
  * (Base → Relational → Curation → Retrieval → Sim → Multimodal) and
  * [[Queries]] composes their registrars into the one driver map. */
private[graft] trait QueriesBase {


  type QueryFn = (SparkSession, String) => DataFrame

  /** `oracle` is static DuckDB SQL; `oracleFn` derives the SQL from the data
    * at verify time (for queries whose oracle interpolates data-dependent —
    * but bit-deterministic — literals, e.g. trained k-means centroids).
    * A query has one or the other, never both. */
  final case class Q(name: String, fn: QueryFn, oracle: Option[String],
      bench: Boolean = false,
      oracleFn: Option[(SparkSession, String) => String] = None)

  protected def decSum(c: Column, scale: String = "18,2"): Column =
    sum(c.cast(s"decimal($scale)")).cast("double")

  protected def ladderSql: String = OddsFns.Ladder.mkString("[", ", ", "]")

  /** Per-SF-dir PERSISTED-ARTIFACT path for the incremental-index demos
    * (parquet centroid / positional-batch indexes): the production
    * posture is "build the index ONCE, store it, every later job loads
    * it" — so the demo queries write the artifact on first touch and
    * load it afterwards, across JVMs (Verify builds, Bench reads warm).
    * Lives under java.io.tmpdir, keyed by the sanitized sfDir + a name
    * that must encode every build parameter (the `v1` tag versions the
    * layout so a format change never reads a stale artifact). */
  protected def artifactPath(dir: String, name: String): String = {
    val root = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      "graft_artifacts_v1/" + dir.replaceAll("[^A-Za-z0-9.]+", "_"))
    root.mkdirs()
    new java.io.File(root, name).getAbsolutePath
  }

  /** One lock object per artifact path: sbt runs suites concurrently in
    * ONE JVM, so two threads building the same artifact must serialize
    * (review r12 — a shared pid-keyed tmp dir could rename a torn write
    * into place). Cross-JVM the tmp names differ (pid + nanos) and the
    * rename race stays benign: both builds are deterministic, the loser
    * deletes its copy. */
  protected val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Write-once/load-after parquet artifact: `build` runs only when the
    * artifact is absent, writing through a temp dir + atomic rename so a
    * concurrent second builder either sees the complete artifact or
    * builds its own identical copy. The `_SUCCESS` probe guards against
    * a torn non-atomic write. `fpTable` names the source parquet whose
    * (size, mtime) fingerprint keys the artifact: regenerating the data
    * under an sfDir changes the fingerprint, so a stale artifact built
    * from the OLD data can never be served (review r12 — the in-JVM
    * memoization this replaced could not go stale across sessions; the
    * on-disk form can, hence the fingerprint). The fingerprint also
    * disambiguates distinct dirs whose sanitized names collide.
    *
    * Retention/readers contract (r16, ArtifactStoreSpec): the prune of
    * superseded fingerprints runs inside the new fingerprint's build
    * lock and never touches the dir just built, so concurrent readers
    * of the CURRENT fingerprint are always safe. A reader could only
    * hold a SUPERSEDED path if the source parquet mutated while that
    * reader was mid-flight — excluded by the store's single-writer
    * assumption: source dirs are immutable while any query JVM runs
    * (testdata regeneration happens between rounds, never concurrently
    * with a Verify/Bench process). */
  protected def parquetArtifact(s: SparkSession, dir: String, name: String,
      fpTable: String)(build: => DataFrame): DataFrame = {
    val src = new java.io.File(s"$dir/$fpTable.parquet")
    // a missing fingerprint source (typo'd fpTable, future layout change)
    // would make length()/lastModified() both 0 — a CONSTANT fingerprint
    // that silently serves a stale artifact after data regeneration.
    // Fail loudly instead (ADVICE r12).
    require(src.isFile || src.isDirectory,
      s"artifact fingerprint source missing: $src")
    val path = artifactPath(dir,
      s"${name}_${src.length()}_${src.lastModified()}")
    val done = new java.io.File(path, "_SUCCESS")
    if (!done.exists()) {
      artifactLocks.computeIfAbsent(path, _ => new Object).synchronized {
        if (!done.exists()) {
          val tmp = path + "_tmp_" + java.lang.ProcessHandle.current().pid() +
            "_" + System.nanoTime()
          build.write.mode("overwrite").parquet(tmp)
          if (!new java.io.File(tmp).renameTo(new java.io.File(path))) {
            // lost a cross-JVM race — the winner's artifact is complete
            // and identical; drop our copy
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
          }
          // retention (VERDICT r14 #7): a successful build supersedes
          // every OTHER fingerprint of the same artifact name — those
          // dirs were keyed to source data that no longer exists (each
          // testdata regeneration changes the fingerprint), so nothing
          // can ever read them again; without this they strand forever.
          // The exact-name_digits_digits match can't clip a sibling
          // artifact whose name merely extends this one ("pq_codes_all"
          // never matches "pq_codes_all_wide_…"). Current readers are
          // safe: any JVM looking at the same source computes THIS
          // fingerprint, which is never deleted.
          val pat = java.util.regex.Pattern.quote(name) + "_\\d+_\\d+"
          val self = new java.io.File(path).getName
          Option(new java.io.File(path).getParentFile.listFiles()).toSeq
            .flatten
            .filter(f => f.isDirectory && f.getName != self &&
              f.getName.matches(pat))
            .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
        }
      }
    }
    // memoized read (r16 session 2): the artifact dir is fingerprint-keyed
    // and write-once, so within a JVM the frame never goes stale — the
    // memo drops the per-call footer/schema job every serving rep paid.
    Tables.rawParquet(s, path)
  }


  /** Trained embedding-table centroids for the semantic-dedup queries —
    * PERSISTED per (sfDir, key) as a parquet centroidsToDF artifact
    * (r12): training is bit-deterministic, so every consumer — query fn,
    * derived oracle, a later JVM (Bench after Verify) — loads the SAME
    * index instead of re-running the ~8-pass eager training loop. The
    * in-process map only saves the parquet read within one JVM. Same
    * immutable-sfDir assumption as docCentroidCache; the artifact name
    * encodes nCells (the only build parameter). */
  protected val embCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[Array[Double]]]()
  protected def embCentroids(s: SparkSession, dir: String, key: String,
      frame: => DataFrame): Seq[Array[Double]] =
    embCentroidCache.computeIfAbsent((dir, key),
      _ => Similarity.centroidsFromDF(
        parquetArtifact(s, dir, s"centroids_emb_${key}_c10", "embeddings")(
          Similarity.centroidsToDF(s,
            Similarity.kmeansCentroidArrays(frame, nCells = 10)))))

  /** The embeddings table assigned to trained `cents`, as the CTEs
    * e/n/cn/assigned: `n`(vec_id, label, v, nrm) and `assigned`(vec_id,
    * v, nrm, cell, cell_cos) over the rows of `n` passing `where`
    * ([[Similarity.assignCellsSql]]) — the prefix of every trained-IVF
    * and semantic-dedup oracle over the table. */
  protected def embAssignedCtes(cents: Seq[Array[Double]],
      where: String = ""): String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |${Similarity.centroidsSql(cents)},
      |assigned AS (${Similarity.assignCellsSql("n", where)})""".stripMargin
}
