package graft.sinks

import graft.model.Kind
import org.apache.spark.sql.{DataFrame, Row, functions => F}

/** Per-input metrics (reference A4: per-file triples/iris/blanks/literals
  * tallies, chilon_rs `src/prefixes.rs:310-374`, `src/meta_info.rs:90-102`) —
  * one aggregation over the triple table grouped by lineage column, plus the
  * corpus-level roll-up as a second-level aggregate.
  */
object Metrics {

  /** Kind tallies of one source: triples, IRIs (s, p, o positions), blank
    * nodes (s, o) and literals.
    */
  final case class Tally(triples: Long, iris: Long, blanks: Long, literals: Long)

  /** The columns whose row counts give the [[Tally]] of each source. */
  private[graft] val TallyColumns = Seq("srcUrl", "sKind", "oKind")

  /** The tallies of each source from the row counts of [[TallyColumns]]. */
  private[graft] def tallies(counts: Map[Row, Long]): Map[String, Tally] =
    counts.groupMapReduce(_._1.getString(0)) { case (r, n) =>
      val (s, o) = (r.getByte(1), r.getByte(2))
      def when(c: Boolean) = if (c) n else 0L
      Tally(n, when(s == Kind.IRI) + n + when(o == Kind.IRI),
        when(s == Kind.BLANK) + when(o == Kind.BLANK),
        when(o == Kind.LIT_PLAIN || o == Kind.LIT_LANG || o == Kind.LIT_TYPED))
    } { (a, b) =>
      Tally(a.triples + b.triples, a.iris + b.iris, a.blanks + b.blanks, a.literals + b.literals)
    }

  def perSource(triples: DataFrame): DataFrame =
    triples
      .groupBy(F.col("srcUrl").as("source"))
      .agg(
        F.count(F.lit(1)).as("triples"),
        (F.sum(F.when(F.col("sKind") === Kind.IRI, 1).otherwise(0)) + F.count(F.lit(1)) +
          F.sum(F.when(F.col("oKind") === Kind.IRI, 1).otherwise(0))).as("iris"),
        (F.sum(F.when(F.col("sKind") === Kind.BLANK, 1).otherwise(0)) +
          F.sum(F.when(F.col("oKind") === Kind.BLANK, 1).otherwise(0))).as("blanks"),
        F.sum(F.when(F.col("oKind").isin(Kind.LIT_PLAIN, Kind.LIT_LANG, Kind.LIT_TYPED), 1)
          .otherwise(0)).as("literals"))

  /** Corpus-level roll-up (reference `MetaInfo` totals, meta_info.rs:177-190). */
  def rollup(perSourceDf: DataFrame): DataFrame =
    perSourceDf.agg(
      F.count(F.lit(1)).as("sources"),
      F.sum("triples").as("triples"),
      F.sum("iris").as("iris"),
      F.sum("blanks").as("blanks"),
      F.sum("literals").as("literals"))
}
