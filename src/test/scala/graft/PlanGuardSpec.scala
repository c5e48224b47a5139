package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{GetTimestamp, RLike, RegExpReplace, StringSplit}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

import graft.clf.{LogAnalysisJob, LogParser}
import graft.functions.ClfParse
import graft.operators.EventAnalytics

/** Mechanical quadratic-join sweep over the ENTIRE query surface.
  *
  * Every `SparkEntry.queries` entry's physical plan is walked; any
  * `CartesianProductExec` or `BroadcastNestedLoopJoinExec` outside the
  * explicit allowlist fails the suite. The allowlisted queries each
  * carry a PROVABLY BOUNDED build side (a 1-row learned scalar or a
  * ≤k-row query set), so their nested-loop is O(n·k) with tiny k — the
  * designed shape — while an unlisted one appearing anywhere on the
  * surface is an accidental O(n²) scale-killer (a dropped join key, a
  * lost broadcast hint) caught at test time instead of at 100 TB.
  */
class PlanGuardSpec extends SparkSpec {

  /** Queries designed around a bounded-side non-equi or all-pairs join;
    * the value documents the bound that keeps each linear. */
  private val allowed: Map[String, String] = Map(
    "q20_above_avg_parts" -> "1-row scalar AVG broadcast (Relational.scala crossJoin(broadcast(thr)))",
    "q33_knn_brute" -> "fixed 5-query-row broadcast against the corpus — the deliberate exact baseline",
    "q102_sql_knn_brute" -> "q33 as SQL text; same 5-row broadcast build side (spec pins BuildRight)",
    "q34_emb_near_dup" -> "all-pairs confined to a constant ~128-row audit slice (pmod modulus)",
    "q81_quantized_ann" -> "≤5-row query side over int8 codes; exact re-score ≤ k rows",
    "q91_bpe_first_merge" -> "1-row learned-merge broadcast (crossJoin of the top pair)",
    "q94_surprisal_sweep" -> "1-row bits_total scalar broadcast over the tiny histogram",
    "q4_global_parity" -> "two 1-row global aggregates crossJoined (EventAnalytics.scala:88)",
    "q29_minhash_lsh" -> "five 1-row audit scalars crossJoined (Dedup.minhashLshAgreement)",
    "q49_range_join" -> "1-row min/max bounds broadcast builds the day spine (Temporal.scala:128)",
    "q75_bm25_search" -> "1-row corpus stats (N, avgdl) broadcast into the scoring scan",
    "q77_hybrid_rrf" -> "q75's 1-row stats + 1-row dense query vector; fusion joins two ≤k lists",
    "q78_heavy_hitters" -> "1-row corpus-total broadcast gates the exact candidate recount",
    "q85_lm_surprisal" -> "1-row bits_total scalar broadcast (train-then-apply model join is equi)",
    "q90_curation_gate" -> "composes q85's 1-row scalar broadcast",
    "q93_training_manifest" -> "composes q90 (q85's 1-row scalar broadcast)",
    "q118_rejection_breakdown" -> "composes q90 (q85's 1-row scalar broadcast)",
    "q100_sql_pipeline_report" -> "composes q75 + q90 scalar broadcasts as SQL text",
    "q111_token_drift" -> "1-row corpus-totals broadcast over the vocabulary-bounded histogram",
    "q123_zipf_audit" -> "1-row corpus-total broadcast over the k-row rank table",
    "q126_retrieval_eval" -> "composes q75's 1-row stats broadcast + its own 1-row totals over the k-row list",
    "q116_monitor_panel" -> "composes q111 (1-row totals broadcast; q115's totals are a window now)",
    "q167_dedup_threshold_sweep" -> "two 1-row scalar aggregates crossJoined (pair sweep × doc sweep × total chars)",
    "q171_skew_advisor" -> "1-row (total, distinct) scalar crossJoined into the bounded top-k (the q78 pattern)")

  test("no unlisted cartesian/nested-loop join anywhere on the query surface") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val quad = allPlanNodes(fn(spark, sf0001).queryExecution.executedPlan).collect {
        case j: BroadcastNestedLoopJoinExec => j.nodeName
        case j: CartesianProductExec => j.nodeName
      }.distinct
      if (quad.nonEmpty && !allowed.contains(name)) Some(s"$name: ${quad.mkString(",")}")
      else None
    }
    assert(offenders.isEmpty,
      s"quadratic join outside the allowlist — either a scale bug or a new " +
        s"bounded-side design that must be allowlisted WITH its bound:\n${offenders.mkString("\n")}")
  }

  /** Queries whose Scaladoc declares them map-side — per-row expression
    * work with NO shuffle before the contract ORDER BY. The declaration
    * becomes a counted assertion: exactly one shuffle exchange (the
    * sort's range partitioning) in the executed plan. */
  private val declaredMapSide = Seq(
    "q21_text_quality", "q22_lang_id", "q23_token_counts", "q24_fingerprints",
    "q26_binary_payload", "q30_simhash",
    "q45_embedding_array_stats", "q66_pii_redaction", "q69_mixture_sample",
    "q82_leakage_safe_split", "q97_winnowing_fingerprints", "q108_run_collapse")

  test("declared map-side queries run exactly one exchange: the contract sort") {
    declaredMapSide.foreach { name =>
      val n = shuffleExchanges(SparkEntry.queries(name)(spark, sf0001)).length
      assert(n === 1,
        s"$name declares map-side-then-sort but ran $n shuffle exchanges")
    }
  }

  test("the allowlist carries no stale entries") {
    val stale = allowed.keySet.filterNot { name =>
      SparkEntry.queries.contains(name) &&
        allPlanNodes(SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan)
          .exists {
            case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
            case _ => false
          }
    }
    assert(stale.isEmpty,
      s"allowlisted queries no longer plan a nested-loop/cartesian — drop them: $stale")
  }

  test("the paper's six windowed outputs finalize in one partition: no range exchange") {
    import spark.implicits._
    val valid = LogParser.validLines(LogParser.FixtureLines.toDF("value"))
    val outputs = Seq(
      "busiestHost" -> LogAnalysisJob.busiestHost(valid, "date"),
      "uniqueHosts" -> LogAnalysisJob.uniqueHosts(valid, "date"),
      "avgReplyBytes" -> LogAnalysisJob.avgReplyBytes(valid, "date"),
      "busiestUserPerWindow" -> EventAnalytics.busiestUserPerWindow(spark, sf0001),
      "uniqueUsersPerWindow" -> EventAnalytics.uniqueUsersPerWindow(spark, sf0001),
      "avgValuePerWindow" -> EventAnalytics.avgValuePerWindow(spark, sf0001))
    outputs.foreach { case (name, df) =>
      val ranged = shuffleExchanges(df).count(_.outputPartitioning.isInstanceOf[RangePartitioning])
      assert(ranged === 0, s"$name sorts through a range exchange ($ranged)")
    }
  }

  test("the CLF parse plans one ClfParse kernel and no regex/split/to_timestamp chain") {
    val dir = Files.createTempDirectory("clf-plan")
    Files.write(dir.resolve("access.log"), LogParser.FixtureLines.mkString("\n").getBytes)
    val plan = LogParser.validLines(spark.read.text(dir.toString)).queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
    assert(exprs.count(_.isInstanceOf[ClfParse]) === 1,
      s"the kernel must run once per line, not per field or again in a filter:\n$plan")
    val chain = exprs.collect {
      case e @ (_: RLike | _: RegExpReplace | _: StringSplit | _: GetTimestamp) => e.prettyName
    }
    assert(chain.isEmpty, s"parse chain left in the plan: ${chain.mkString(", ")}")
  }
}
