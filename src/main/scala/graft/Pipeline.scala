package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.LakeConfig
import graft.io.{Sinks, Sources}
import graft.quality.{Cleaner, Profile, Validator}
import graft.query.QueryRunner
import graft.transform.Derive

/** Side-effect notification hook — reference SNS publishes
  * (`scripts/...pyspark.py:40-45,:73-76,:132,:135-138`). Default impl logs.
  */
trait Notifier {
  def send(subject: String, message: String): Unit
}

object LogNotifier extends Notifier {
  def send(subject: String, message: String): Unit =
    System.err.println(s"[notify] $subject: $message")
}

/** Result of one pipeline run. */
final case class PipelineResult(
    profile: Profile,
    result: DataFrame,
    outputFormat: String)

/** The reference's one fixed "query plan"
  * (`scripts/...pyspark.py:82-138`, order per SURVEY.md §2.A):
  *
  *   read → validate (profile) → fillna(Phone) → dropna → dropDuplicates
  *   → register temp view → [dead branch: age + filter]
  *   → spark.sql(config.psQuery) → format-flipped overwrite write → notify
  *
  * The profile and the write overlap: the profile's action runs on a
  * thread of its own while the clean → register → query → write chain
  * runs on the caller's, and it is joined before the notification. The
  * profile only reads the input and nothing in the chain reads the
  * profile, so callers see the same outputs, notifications and thrown
  * errors as in the listed order. The profile thread carries the
  * caller's job group and properties, and no job of it outlives `run`.
  *
  * CRITICAL: the temp view is registered BEFORE the age transform, so the
  * SQL (and the sink) see the cleaned-but-untransformed data. The age
  * branch is computed on the side — a plan that is never executed — exactly
  * like the reference's dead code at `:108-109`. We build the branch (cheap:
  * lazy plan construction only, no action) to keep behavioral parity.
  */
final class Pipeline(spark: SparkSession, notifier: Notifier = LogNotifier) {

  /** Scratch-cleanup prologue — the reference's `unsaved_folder()`
    * (`lambda_code/lambda_handler.py:6-15`): before every run, delete
    * everything under the scratch prefix (the reference's `Unsaved/`
    * S3 prefix, paginated delete_objects). Re-expressed over the Hadoop
    * FileSystem API so the same code clears a local dir, HDFS path, or
    * s3a:// prefix; the FS client does its own batching/paging. Matches
    * the reference's error contract: best-effort — failures are logged,
    * never fail the run.
    */
  def cleanScratch(scratchDir: String): Unit =
    try {
      val path = new org.apache.hadoop.fs.Path(scratchDir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path)) {
        val it = fs.listStatus(path)
        it.foreach(st => fs.delete(st.getPath, true))
        System.err.println(s"[scratch] cleared ${it.length} entries under $scratchDir")
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[scratch] error deleting folder : ${e.getMessage}")
    }

  /** @param scratchDir when set, cleared (best-effort) before the read —
    *                   the A23 prologue; None preserves the bare
    *                   read-first behavior.
    */
  def run(
      config: LakeConfig,
      inputPath: String,
      outputPath: String,
      scratchDir: Option[String] = None): PipelineResult =
    try {
      scratchDir.foreach(cleanScratch)
      val raw = Sources.read(spark, config.fileType, inputPath)
      val profiling = new Overlapped(spark.sparkContext)(Validator.profile(raw))
      val (result, outFmt) =
        try {
          val cleaned = Cleaner.clean(raw)

          QueryRunner.register(cleaned, config.tableName)

          // Dead branch, reference `:108-109`: plan built, never executed.
          // The reference builds it UNCONDITIONALLY and would fail analysis on a
          // dataset lacking the `Date of Birth` column; we guard so the engine is
          // strictly MORE permissive (the branch is dead either way — its result
          // is discarded). Deliberate divergence, pinned in PipelineSpec.
          if (cleaned.columns.exists(_.equalsIgnoreCase("Date of Birth"))) {
            val _ = Derive.adultsOver(Derive.age(cleaned))
          }

          val result = QueryRunner.run(spark, config.psQuery)
          (result, Sinks.writeFlipped(result, config.fileType, outputPath))
        } catch {
          case e: Throwable =>
            profiling.cancel()
            throw e
        }
      val profile = profiling.join()

      notifier.send(
        "Glue Job Success",
        s"Pipeline wrote $outFmt output to $outputPath (input rows=${profile.rows})")
      PipelineResult(profile, result, outFmt)
    } catch {
      case e: Throwable =>
        notifier.send("Glue Job Failure", s"Pipeline failed: ${e.getMessage}")
        throw e
    }
}

/** `body` on a fresh thread, whose Spark jobs carry a job tag of their
  * own. The thread inherits a clone of the creating thread's Spark local
  * properties (job group, description, scheduler pool), so tagging its
  * jobs neither loses nor clobbers the creator's. A new thread per use,
  * not a pool: a pooled thread would carry the properties of whichever
  * thread created it.
  */
private final class Overlapped[A](sc: SparkContext)(body: => A) {
  private val tag = s"graft-overlapped-${java.util.UUID.randomUUID()}"
  private var outcome: Either[Throwable, A] = _
  private val thread = new Thread(() => {
    outcome = try { sc.addJobTag(tag); Right(body) } catch { case e: Throwable => Left(e) }
  }, "graft-overlapped")
  thread.setDaemon(true)
  thread.start()

  /** Waits for `body`; returns its value or rethrows what it threw. */
  def join(): A = {
    thread.join()
    outcome.fold(e => throw e, identity)
  }

  /** Cancels `body`'s jobs and waits for the thread to end. The cancel
    * repeats while the thread lives, so a job submitted after the first
    * cancel cannot outlive this call either.
    */
  def cancel(): Unit =
    while (thread.isAlive) {
      sc.cancelJobsWithTag(tag)
      thread.join(50)
    }
}
