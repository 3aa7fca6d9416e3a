package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
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
    * to a caller whose appends are replayed and deduplicated. */
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
    val job = Job.getInstance(session.sessionState.newHadoopConf())
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
