package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand

/** Crash injection for the commit-protocol specs: while armed, the
  * write of any generation of `member` (`<member>__g<N>`) fails at
  * planning time, before a byte of it is written — the state a process
  * dying between two member writes of one commit leaves. Returns the
  * injected failure; raises if `body` never reached the member. */
object CrashBefore {
  final class Injected(table: String)
      extends RuntimeException(s"injected crash before writing $table")

  def apply(spark: SparkSession, member: String)(body: => Any): Injected = {
    val gen = (java.util.regex.Pattern.quote(member) + "__g\\d+").r
    val crash = new SparkStrategy {
      def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
        case c: CreateDataSourceTableAsSelectCommand
            if gen.pattern.matcher(c.table.identifier.table).matches() =>
          throw new Injected(c.table.identifier.table)
        case _ => Nil
      }
    }
    val before = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = before :+ crash
    try {
      body
      throw new AssertionError(s"no write of $member was attempted")
    } catch {
      case t: Throwable =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .collectFirst { case i: Injected => i }.getOrElse(throw t)
    } finally spark.experimental.extraStrategies = before
  }
}
