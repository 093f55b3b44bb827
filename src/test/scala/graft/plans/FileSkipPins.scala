package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.SparkSpec

/** Plan pins for [[AutoFileSkip]]'s pruning, shared by the specs that
  * pin per-file sidecars: the files each scan of the optimized plan
  * reads, whether the rule rewrote a scan (its marker index), and the
  * same plan with the rule switched off. */
trait FileSkipPins { self: SparkSpec =>

  def scanFiles(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation]
          .location.inputFiles.toSeq
    }

  /** Files read over every scan of `df`. */
  def filesRead(df: DataFrame): Int = scanFiles(df).map(_.size).sum

  def pruned(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] &&
        l.relation.asInstanceOf[HadoopFsRelation]
          .location.isInstanceOf[GraftPrunedFileIndex] => l
    }.nonEmpty

  def withRuleDisabled[T](body: => T): T = {
    spark.conf.set(AutoFileSkip.EnabledKey, "false")
    try body finally spark.conf.set(AutoFileSkip.EnabledKey, "true")
  }
}
