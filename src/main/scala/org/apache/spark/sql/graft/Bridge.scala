package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** Column ⇄ catalyst Expression bridge. Spark 4 made `Column`
  * implementation-agnostic; the classic converters are private[sql],
  * so this shim lives under org.apache.spark.sql to re-export them for
  * graft's custom expressions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The leaf files (path, length, modification time) of a DataFrame
    * that is exactly one file-source relation, as its file index listed
    * them when the DataFrame was created — no file-system call. None
    * for any other plan shape. */
  def leafFiles(df: DataFrame): Option[Set[(String, Long, Long)]] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location match {
          case i: PartitioningAwareFileIndex => Some(i.allFiles().iterator
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** RDD name applied by [[tagMaterialized]] so graft-internal
    * checkpoint blocks can be found and swept without touching any
    * user-persisted RDD. */
  val MaterializedTag = "graft-materialized"

  /** Tag the RDD backing a Dataset returned by
    * `checkpoint`/`localCheckpoint` (its analyzed plan is a
    * [[LogicalRDD]] holding the persisted RDD). No-op on any other
    * plan shape. Needs this package: `LogicalRDD` is private[sql]. */
  def tagMaterialized(df: DataFrame): DataFrame = {
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.setName(MaterializedTag)
      case _             => ()
    }
    df
  }

  /** Run `body`, then unpersist every graft-tagged RDD CREATED during
    * it — the scoped twin of [[releaseMaterialized]] for per-batch
    * callers (foreachBatch sinks), which must release their own
    * batch's pins each micro-batch but cannot run the session-global
    * sweep (it would release pins belonging to concurrent graft
    * work). Pre-existing tagged RDDs are untouched, as is every
    * user-persisted (untagged) RDD. Contract: don't start OTHER
    * graft checkpoint-creating jobs concurrently with an open scope —
    * their new pins would be swept with the scope's (the same
    * single-caller discipline releaseMaterialized already requires). */
  def withMaterializedScope[T](spark: SparkSession,
                               blocking: Boolean = false)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body finally {
      spark.sparkContext.getPersistentRDDs
        .filter { case (rid, rdd) =>
          !before.contains(rid) && rdd.name == MaterializedTag }
        .values.foreach(_.unpersist(blocking))
    }
  }

  /** Unpersist every RDD carrying [[MaterializedTag]]. Returns the
    * number of RDDs released. `blocking = true` waits for the executor
    * blocks to actually drop (deterministic for tests). */
  def releaseMaterialized(spark: SparkSession, blocking: Boolean = false): Int = {
    val tagged = spark.sparkContext.getPersistentRDDs.values
      .filter(_.name == MaterializedTag).toSeq
    tagged.foreach(_.unpersist(blocking))
    tagged.size
  }
}
