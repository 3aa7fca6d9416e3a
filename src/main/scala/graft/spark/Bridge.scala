package org.apache.spark.sql.graftbridge

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.{InputAdapter, LogicalRDD, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceRDD, DataSourceRDDPartition, MicroBatchScanExec}
import org.apache.spark.sql.execution.streaming.runtime.{StreamExecution, StreamingQueryWrapper}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Column ⇄ catalyst Expression bridge for the classic (non-Connect)
  * runtime. Spark 4 wraps Columns in ColumnNode and scopes the
  * conversion `private[sql]`, so this shim lives under the sql
  * package — the standard pattern for libraries that define their own
  * Catalyst expressions.
  *
  * Column→Expression converts EAGERLY (ColumnNodeToExpressionConverter)
  * rather than via ExpressionUtils.expression's lazy
  * ColumnNodeExpression wrapper: expressions returned from a SQL
  * FunctionBuilder must be real Catalyst trees (Unresolved* nodes the
  * analyzer then resolves) — the lazy wrapper reaches codegen
  * unconverted and fails there.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter.apply(c.node)

  /** Wrap a custom logical plan as a DataFrame (Dataset.ofRows is
    * `private[sql]`) and read a DataFrame's analyzed plan — the two
    * hooks a library-defined LogicalPlan node needs. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** The rows of a `foreachBatch` micro-batch, read on the driver with
    * no Spark job: `read` turns each of the epoch's input partitions
    * into its rows. Only for the batch `foreachBatch` handed over
    * unchanged, over a query that is one micro-batch DSv2 scan:
    *  - the batch's plan is a `LogicalRDD` whose RDD is the running
    *    query's own `lastExecution.toRdd`; the query is found through
    *    the micro-batch thread's query-id local property on `spark`,
    *    the session that started it (the batch's cloned session has an
    *    empty query manager of its own);
    *  - that execution's plan is one `MicroBatchScanExec`, under at
    *    most whole-stage codegen and a projection of exactly its
    *    output;
    *  - the RDD's one-to-one lineage ends in a `DataSourceRDD`, whose
    *    partitions carry the epoch's `InputPartition`s.
    * The row count is added to the scan's `numOutputRows` metric, which
    * is where Spark's progress reads `numInputRows`, so progress and
    * its listeners count the rows as if the scan had run. Returns None,
    * having read and counted nothing, when a shape is not found or
    * `read` is not defined for a partition; the caller then reads the
    * batch through Spark. */
  def readMicroBatch[T](spark: SparkSession, batch: Dataset[_])(
      read: PartialFunction[InputPartition, Seq[T]]): Option[Seq[T]] =
    for {
      rdd <- Some(analyzed(batch)).collect { case r: LogicalRDD => r.rdd }
      id <- Option(spark.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
      query <- Option(spark.streams.get(id)).collect {
        case q: StreamingQueryWrapper => q.streamingQuery }
      exec <- Option(query.lastExecution) if exec.toRdd eq rdd
      scan <- scanOf(exec.executedPlan)
      rowCount <- scan.metrics.get("numOutputRows")
      parts <- scanPartitions(rdd) if parts.forall(read.isDefinedAt)
    } yield {
      val rows = parts.flatMap(read)
      rowCount.add(rows.size)
      rows
    }

  /** The micro-batch scan a plan is, under whole-stage codegen and
    * projections of exactly its output; None for any other plan. */
  private def scanOf(plan: SparkPlan): Option[MicroBatchScanExec] = plan match {
    case s: MicroBatchScanExec => Some(s)
    case w: WholeStageCodegenExec => scanOf(w.child)
    case i: InputAdapter => scanOf(i.child)
    case p: ProjectExec if p.projectList == p.child.output => scanOf(p.child)
    case _ => None
  }

  /** The input partitions of the `DataSourceRDD` at the end of `rdd`'s
    * one-to-one lineage, or None. */
  private def scanPartitions(rdd: RDD[_]): Option[Seq[InputPartition]] = rdd match {
    case source: DataSourceRDD =>
      val parts = source.partitions.toSeq
      Some(parts.collect { case p: DataSourceRDDPartition => p.inputPartitions })
        .filter(_.size == parts.size).map(_.flatten)
    case _ => rdd.dependencies match {
      case Seq(one: OneToOneDependency[_]) => scanPartitions(one.rdd)
      case _ => None
    }
  }

  /** Append `df` to the parquet table at `dir` from the driver, with no
    * Spark job, when its rows are driver-held: its analyzed plan is
    * projections, and shuffle-free coalesces, over a `LocalRelation`
    * (what `createDataFrame` over local rows builds). Returns false,
    * having written nothing, for any other plan.
    *
    * The files are what `df.sortWithinPartitions(partitionBy ++ sortBy)
    * .coalesce(1).write.mode("append").partitionBy(partitionBy)
    * .parquet(dir)` writes: one `part-00000-<uuid>.c000<ext>` per
    * partition directory, rows sorted, written by Spark's own parquet
    * `OutputWriter`. Projections evaluate interpreted, as the
    * optimizer's ConvertToLocalRelation would. Each file is written
    * under a hidden name (Spark's file listing skips names starting
    * with `.`) and published by one rename once every file is
    * written, so no torn file is ever visible. A failure deletes the
    * hidden files not yet published; a crash partway through the
    * renames can leave part of the batch visible, which is harmless
    * to a caller whose appends are replayed and deduplicated.
    *
    * No process is launched per file: the write's own Hadoop conf
    * carries [[localWriteOptions]]. */
  def appendDriverParquet(df: Dataset[_], dir: String,
      partitionBy: Option[String] = None, sortBy: Seq[String] = Nil): Boolean = {
    val plan = analyzed(df)
    val rows = driverRows(plan).getOrElse(return false)
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    def attr(name: String) = plan.output.find(a => conf.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(s"no column $name in ${plan.schema}"))
    val part = partitionBy.map(attr)
    val order = new InterpretedOrdering(
      (part.toSeq ++ sortBy.map(attr)).map(SortOrder(_, Ascending)), plan.output)
    val sorted = rows.sorted(order)
    val root = new Path(dir)
    val byDir = part.fold(Seq(root -> sorted)) { p =>
      val at = plan.output.indexOf(p)
      sorted.groupBy(_.get(at, p.dataType)).toSeq.map { case (v, rs) =>
        val value = Option(v).map(x => Cast(Literal(x, p.dataType), StringType,
          Some(conf.sessionLocalTimeZone)).eval().toString).orNull
        new Path(root, ExternalCatalogUtils.getPartitionPathString(p.name, value)) -> rs
      }
    }

    val dataAttrs = plan.output.filterNot(a => part.contains(a))
    val dataSchema = StructType(dataAttrs.map(a =>
      StructField(a.name, a.dataType, a.nullable, a.metadata)))
    val hadoopConf = session.sessionState.newHadoopConf()
    localWriteOptions(hadoopConf, dir).foreach { case (k, v) => hadoopConf.set(k, v) }
    val job = Job.getInstance(hadoopConf)
    val factory = ParquetUtils.prepareWrite(conf, job, dataSchema,
      new ParquetOptions(Map.empty[String, String], conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID)
    val keep = new InterpretedMutableProjection(dataAttrs, plan.output)
    val files = byDir.map { case (parent, rs) =>
      val name = s"part-00000-${java.util.UUID.randomUUID()}.c000${factory.getFileExtension(ctx)}"
      (new Path(parent, s".$name.inprogress"), new Path(parent, name), rs)
    }
    val fs = root.getFileSystem(job.getConfiguration)
    try {
      files.foreach { case (hidden, _, rs) =>
        val writer = factory.newInstance(hidden.toString, dataSchema, ctx)
        try rs.foreach(r => writer.write(keep(r))) finally writer.close()
      }
      files.foreach { case (hidden, visible, _) =>
        if (!fs.rename(hidden, visible))
          throw new java.io.IOException(s"could not publish $hidden as $visible")
      }
    } catch { case e: Throwable =>
      // published files are gone from their hidden names already
      files.foreach(f => scala.util.Try(fs.delete(f._1, false)))
      throw e
    }
    true
  }

  /** Hadoop conf entries that make a write under `dir` launch no
    * process per file: for a `file:` root whose conf names no
    * `fs.file.impl` of its own, `file:` resolves to
    * [[NioLocalFileSystem]], uncached (Hadoop caches filesystems by
    * scheme, not by conf); for any other root, none. Hadoop's
    * `LocalFileSystem` (also under Hive's `ProxyLocalFileSystem`) runs
    * `chmod` for each file, `.crc` and directory it creates, because
    * Spark ships without Hadoop's native library; the nio one sets the
    * same bits, so the bytes and permissions on disk are those of
    * Hadoop's path under the write conf's umask. Set them only in one
    * write's conf (a `DataFrameWriter`'s options reach its job's conf):
    * the session's cached filesystem stays Hadoop's. */
  def localWriteOptions(spark: SparkSession, dir: String): Map[String, String] =
    localWriteOptions(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf(), dir)

  private def localWriteOptions(conf: Configuration, dir: String): Map[String, String] =
    if (conf.get("fs.file.impl") != null ||
        new Path(dir).getFileSystem(conf).getUri.getScheme != "file") Map.empty
    else Map("fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")

  /** The rows of a plan of projections and shuffle-free coalesces over
    * a `LocalRelation`, computed on the driver; None for any other
    * plan, or a projection only a Spark job can evaluate. */
  private def driverRows(plan: LogicalPlan): Option[Seq[InternalRow]] = plan match {
    case r: LocalRelation => Some(r.data)
    case Repartition(_, false, child) => driverRows(child)
    case Project(list, child) =>
      val exprs = list.map(_.transform { case r: RuntimeReplaceable => r.replacement })
      if (exprs.exists(_.exists(e =>
          e.isInstanceOf[Unevaluable] && !e.isInstanceOf[Attribute]))) None
      else driverRows(child).map { in =>
        val project = new InterpretedMutableProjection(exprs, child.output)
        project.initialize(0)
        in.map(project(_).copy())
      }
    case _ => None
  }
}

/** Hadoop's checksummed `LocalFileSystem` (a `.crc` beside each file)
  * over [[NioRawLocalFileSystem]]: the same files, permissions and
  * checksums, with no `chmod` process per file or directory. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` calls
  * `Files.setPosixFilePermissions`. Hadoop's own runs `chmod` in a new
  * process when its native library is missing; every file it creates
  * with a permission, and every directory `mkdirs` makes, goes through
  * here. A sticky permission, which `java.nio` cannot set, keeps
  * Hadoop's. */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
