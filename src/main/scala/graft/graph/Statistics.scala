package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Artifact statistics (reference F38 — the interface the reference only
  * stubs, statistics/__init__.py:60-86, realized as real one-pass
  * aggregations): per-column count / nulls / distinct / min / max, recorded
  * by the executor in the backend alongside the partition (the
  * `Statistic`/`Threshold` hook point of executors/local.py:26-29). The
  * executor observes them on the staging write itself, so a built
  * partition is profiled without a job of its own; [[profile]] computes
  * the same map in one standalone job. */
object Statistics {

  /** Declarative quality thresholds over collected statistics (reference
    * F38: thresholds/__init__.py:11-16 defines the `check` interface and
    * executors/local.py:26-29 leaves enforcement TODO — here both are
    * real). A Threshold checks the stats map produced by [[profile]]; the
    * executor evaluates thresholds on EVERY build — including memoized
    * skips, against the stored statistics — because thresholds may change
    * between runs without invalidating the data (they are deliberately
    * excluded from the producer fingerprint, exactly why the reference
    * re-checks "every time"). */
  sealed trait Threshold {
    /** Right(()) iff the stats satisfy this threshold. */
    def check(stats: Map[String, String]): Either[String, Unit]
  }

  object Threshold {
    private def num(stats: Map[String, String], key: String): Either[String, Double] =
      stats.get(key).toRight(s"statistic '$key' was not collected")
        .flatMap(v => scala.util.Try(v.toDouble).toOption.toRight(s"statistic '$key'=$v is not numeric"))

    final case class MinRows(n: Long) extends Threshold {
      def check(stats: Map[String, String]): Either[String, Unit] =
        num(stats, "__rows").flatMap(r => Either.cond(r >= n, (), s"rows $r < required $n"))
    }

    /** No NULLs in `column`: its non-null count must equal the row count. */
    final case class NoNulls(column: String) extends Threshold {
      def check(stats: Map[String, String]): Either[String, Unit] =
        for {
          rows <- num(stats, "__rows")
          cnt <- num(stats, s"${column}__count")
          _ <- Either.cond(cnt == rows, (), s"column '$column' has ${rows - cnt} null(s)")
        } yield ()
    }

    /** min/max of `column` within [lo, hi] (either side optional). */
    final case class Bounds(column: String, lo: Option[Double] = None, hi: Option[Double] = None) extends Threshold {
      def check(stats: Map[String, String]): Either[String, Unit] =
        for {
          mn <- num(stats, s"${column}__min")
          mx <- num(stats, s"${column}__max")
          _ <- Either.cond(lo.forall(mn >= _), (), s"column '$column' min $mn below ${lo.get}")
          _ <- Either.cond(hi.forall(mx <= _), (), s"column '$column' max $mx above ${hi.get}")
        } yield ()
    }

    /** Approximate distinct count of `column` at least n (HLL-based — use
      * for "is this column actually varied" checks, not exact audits). */
    final case class MinDistinct(column: String, n: Long) extends Threshold {
      def check(stats: Map[String, String]): Either[String, Unit] =
        num(stats, s"${column}__approx_distinct")
          .flatMap(d => Either.cond(d >= n, (), s"column '$column' distinct ~$d < required $n"))
    }
  }

  /** Evaluate all thresholds; Left = every violation message. */
  def checkThresholds(thresholds: Seq[Threshold], stats: Map[String, String]): Either[String, Unit] = {
    val violations = thresholds.flatMap(_.check(stats).left.toOption)
    if (violations.isEmpty) Right(()) else Left(violations.mkString("; "))
  }

  /** The profile's aggregates over `schema`, named `<col>__<stat>` (plus
    * `__rows`): per column count / approx distinct, and min / max (as
    * strings) for orderable scalar types. Plain aggregates, so they serve
    * both a standalone pass ([[profile]]) and `Dataset.observe` on the
    * write that produces the data (the executor's path: statistics of a
    * freshly built partition cost no extra job). */
  def profileColumns(schema: StructType): Seq[Column] =
    schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val base = Seq(
        count(c).as(s"${f.name}__count"),
        approx_count_distinct(c).as(s"${f.name}__approx_distinct"))
      val ranged = f.dataType match {
        case _: NumericType | DateType | TimestampType | TimestampNTZType | StringType =>
          Seq(min(c).cast(StringType).as(s"${f.name}__min"), max(c).cast(StringType).as(s"${f.name}__max"))
        case _ => Nil
      }
      base ++ ranged
    } :+ count(lit(1)).as("__rows")

  /** The stats map of one evaluated [[profileColumns]] row (an observed
    * `Observation.get`, or [[profile]]'s collected row). */
  def statsOf(values: Map[String, Any]): Map[String, String] =
    values.map { case (k, v) => k -> String.valueOf(v) }

  /** One-pass profile of `df`: one job, one output row. */
  def profile(df: DataFrame): Map[String, String] = {
    val aggs = profileColumns(df.schema)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    statsOf(row.getValuesMap[Any](row.schema.fieldNames.toSeq))
  }
}
