package graft.streaming

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteTaskStatsTracker,
  OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Writes a frame as parquet files into one directory with one Spark job,
  * and returns the names of the files written: the append half of a
  * manifest-committed store ([[Pipelines.manifestSink]] publishes the
  * list as its commit).
  *
  * Tasks read the Hadoop conf from a broadcast that this instance keeps
  * while the conf is unchanged. `df.write.parquet` puts the session's
  * whole conf (about 1 100 keys, 113 KB serialized, each key's source
  * list gzipped on its own) into every task's closure twice, and each
  * write task spends 20–60 ms deserializing it; a broadcast is read once
  * per executor, and not deserialized at all in local mode. A changed
  * conf (a new schema, codec or parquet option) is broadcast again and
  * the old broadcast destroyed, so at most one is held.
  *
  * No commit protocol runs: each task writes one attempt-unique file,
  * `part-<partition>-<call uuid>-<task attempt><ext>`, and returns its
  * name. A failing attempt deletes its own file; the file of an attempt
  * whose result was not taken (a speculative loser) stays but is in no
  * returned list, so a reader of the list never sees it. An empty
  * partition writes nothing except partition 0, which writes the
  * schema-only file Spark writes for an empty frame. `spark.sql.files.maxRecordsPerFile`
  * is not honoured: every partition is one file.
  */
private[graft] final class ParquetAppend {
  private var shipped: Option[(java.util.Map[String, String],
    Broadcast[SerializableConfiguration])] = None

  /** Writes every partition of `df` under `dir`; the file names, in
    * partition order. */
  def apply(df: DataFrame, dir: String): Seq[String] = synchronized {
    val task = prepare(df, dir)
    val qe = df.queryExecution
    val sc = df.sparkSession.sparkContext
    SQLExecution.withNewExecutionId(qe, Some(s"parquet append to $dir")) {
      val rdd = qe.toRdd
      // as `df.write`: a frame with no partitions still writes partition 0
      val parts = if (rdd.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1) else rdd
      sc.runJob(parts, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        task.write(ctx.partitionId, ctx.taskAttemptId, rows)).toSeq.flatten
    }
  }

  /** The driver half of [[apply]]: the writer factory for `df`'s schema
    * and the conf broadcast, reused while the conf is unchanged. */
  private[graft] def prepare(df: DataFrame, dir: String): ParquetAppend.Task = synchronized {
    val spark = df.sparkSession
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, df.schema)
    val conf = job.getConfiguration
    val entries = new java.util.HashMap[String, String]()
    conf.forEach(e => entries.put(e.getKey, e.getValue))
    val bc = shipped match {
      case Some((seen, b)) if seen == entries => b
      case old =>
        old.foreach(_._2.destroy())
        val b = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
        shipped = Some((entries, b))
        b
    }
    ParquetAppend.Task(bc, factory, df.schema, dir, UUID.randomUUID().toString)
  }

  /** The broadcast currently held. */
  private[graft] def confBroadcast: Option[Broadcast[SerializableConfiguration]] =
    synchronized(shipped.map(_._2))
}

private[graft] object ParquetAppend {

  /** Everything a write task needs; serialized into the job's closure. */
  final case class Task(conf: Broadcast[SerializableConfiguration],
      factory: OutputWriterFactory, schema: StructType, dir: String, uuid: String) {

    /** Writes one partition to a file unique to `attempt`, reports its
      * bytes and rows to the task's output metrics, and returns the
      * file's name; `None` for an empty partition other than 0. */
    def write(partition: Int, attempt: Long, rows: Iterator[InternalRow]): Option[String] =
      if (partition != 0 && !rows.hasNext) None
      else {
        // the context copies the shared conf, so nothing a writer sets leaks
        val ctx = new TaskAttemptContextImpl(conf.value.value,
          new TaskAttemptID("graft", 0, TaskType.MAP, partition, attempt.toInt))
        val name = f"part-$partition%05d-$uuid-$attempt${factory.getFileExtension(ctx)}"
        val path = new Path(dir, name)
        val file = path.toString
        val stats = new BasicWriteTaskStatsTracker(ctx.getConfiguration, None)
        var out: OutputWriter = null
        try {
          out = factory.newInstance(file, schema, ctx)
          stats.newFile(file)
          rows.foreach { r => out.write(r); stats.newRow(file, r) }
          val done = out
          out = null
          done.close()
          stats.closeFile(file)
          stats.getFinalStats(0L)
          Some(name)
        } catch {
          case t: Throwable =>
            try {
              if (out != null) out.close()
            } catch { case s: Throwable => t.addSuppressed(s) }
            try path.getFileSystem(ctx.getConfiguration).delete(path, false)
            catch { case s: Throwable => t.addSuppressed(s) }
            throw t
        }
      }
  }
}
