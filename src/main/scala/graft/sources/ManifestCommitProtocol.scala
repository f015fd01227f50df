package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage

/** The commit protocol of every Scala-API staging write: tasks write
  * their files under their final names in the writer-unique stage
  * directory `stage`, and the manifest publish that follows is the
  * write's one atomic commit — as Structured Streaming's file sink and
  * Delta's `DelayedCommitProtocol` commit through their logs. So there
  * is no `_temporary` tree, no rename pass and no `_SUCCESS` marker.
  * Each file's basename is attempt-unique (a fresh UUID per file, in
  * the place and length of the job UUID Spark's own part names carry),
  * so task retries overwrite nothing; an aborted attempt deletes its
  * files, an aborted job its stage, and whatever a crash leaves is
  * unreferenced staging [[ManifestTable.vacuum]] reclaims. */
private[sources] final class ManifestCommitProtocol(stage: String)
    extends FileCommitProtocol with Serializable {
  // the files this task attempt opened (each task runs on its own
  // deserialized copy)
  @transient private lazy val added =
    scala.collection.mutable.ArrayBuffer.empty[String]

  /** Create the stage in-process, from the path part of its URI: a
    * local stage comes as a [[GraftLocalFileSystem]] URI, which no
    * `java.nio` provider serves. */
  override def setupJob(job: JobContext): Unit = {
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(new Path(stage).toUri.getPath))
    ()
  }

  override def commitJob(job: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = ()

  override def abortJob(job: JobContext): Unit = {
    val p = new Path(stage)
    p.getFileSystem(job.getConfiguration).delete(p, true)
    ()
  }

  override def setupTask(task: TaskAttemptContext): Unit = ()

  override def newTaskTempFile(task: TaskAttemptContext,
      dir: Option[String], spec: FileNameSpec): String = {
    val split = task.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-" +
      s"${java.util.UUID.randomUUID()}${spec.suffix}"
    val f = new Path(dir.fold(new Path(stage))(new Path(stage, _)), name)
      .toString
    added += f
    f
  }

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(added.toSeq)

  // through the Hadoop file system, which also drops each file's
  // `.crc` sidecar
  override def abortTask(task: TaskAttemptContext): Unit =
    added.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(task.getConfiguration).delete(p, false)
    }
}
