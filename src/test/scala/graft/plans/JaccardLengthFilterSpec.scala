package graft.plans

import graft.SparkSpec
import graft.functions._
import graft.ops.Dedup
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

class JaccardLengthFilterSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "a b c d e f g h i j"),
    (2L, "a b c d e f g h i j"),
    (3L, "a b c"),                       // much shorter: length filter prunes vs 1
    (4L, "q r s t u v w x y z"))
    .toDF("doc_id", "text")

  // The shared session already carries the rule (session profile), so
  // each arm sets the rule list explicitly and restores the exact prior
  // list afterwards: no suite running later sees it added or stripped.
  private def withRules[T](rules: Seq[Rule[LogicalPlan]])(body: => T): T = {
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules
    try body
    finally spark.experimental.extraOptimizations = prior
  }
  private def otherRules = spark.experimental.extraOptimizations.filterNot(_ == JaccardLengthFilter)
  private def withRule[T](body: => T): T = withRules(otherRules :+ JaccardLengthFilter)(body)
  private def withoutRule[T](body: => T): T = withRules(otherRules)(body)

  test("rule injects size() length filters into jaccard threshold filters, idempotently") {
    withRule {
      val q = docs.as("l").crossJoin(docs.as("r"))
        .select(
          col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
          jaccard_sorted(
            shingle_hash_set(col("l.text"), 2),
            shingle_hash_set(col("r.text"), 2)).as("j"))
        .filter(col("id_a") < col("id_b") && col("j") >= 0.5)
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("size("), s"length filter not injected:\n$optimized")
      // fixed-point ran the rule repeatedly: exactly 2 size-pair conjuncts,
      // not one per iteration
      assert("size\\(".r.findAllIn(optimized).size == 4,
        s"expected 4 size() refs (2 conjuncts × 2 sides):\n$optimized")
    }
  }

  test("size conjuncts are PREPENDED so they short-circuit before the kernel") {
    withRule {
      val q = docs.as("l").crossJoin(docs.as("r"))
        .select(
          jaccard_sorted(
            shingle_hash_set(col("l.text"), 2),
            shingle_hash_set(col("r.text"), 2)).as("j"))
        .filter(col("j") >= 0.5)
      val cond = q.queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.toString
      }.orElse(q.queryExecution.optimizedPlan.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.condition.get.toString
      }).get
      assert(cond.indexOf("size(") < cond.indexOf("graft_jaccard_sorted"),
        s"size() must precede the kernel predicate for short-circuit:\n$cond")
    }
  }

  test("rounding-slack: length filter keeps pairs whose ROUNDED jaccard crosses the threshold") {
    // sets sized 3 and 2 sharing 1 element: J = 1/4 = 0.25 exactly; with
    // threshold 0.25 the unslackened filter t·|a| ≤ |b| is 0.75 ≤ ... fine;
    // instead pin behavior: a pair passing the kernel predicate must never
    // be dropped by the injected conjuncts, across a threshold sweep
    val pairs = Seq(
      (1L, "a b c d e f g h i j"), (2L, "a b c d e"))
      .toDF("doc_id", "text")
    Seq(0.25, 0.4, 0.5).foreach { t =>
      def run() = Dedup.ngramJaccardPairs(pairs, "text", "doc_id", n = 1, threshold = t)
        .as[(Long, Long, Double)].collect().toSet
      val without = withoutRule(run())
      val withR = withRule(run())
      assert(without == withR, s"threshold $t")
    }
  }

  test("results identical with and without the rule") {
    def run() = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val without = withoutRule(run())
    val withR = withRule(run())
    assert(without == withR)
    assert(without.contains((1L, 2L, 1.0)))
  }
}
