package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the injected optimizer rule: a high-threshold jaro_winkler
  * filter picks up the length-ratio guard (and short-circuits the
  * scorer), a sub-0.8 threshold is left alone (the bound is vacuous
  * there), the rewrite never changes answers, and the optimizer's
  * fixpoint loop doesn't stack duplicate guards. */
class JaroPruneRuleSpec extends SparkSpec {

  // NOT a LocalRelation: ConvertToLocalRelation would evaluate the
  // whole filter at optimize time and leave no plan to inspect — the
  // Range source keeps the Filter in the optimized plan
  private def fixture = {
    val s = spark
    graft.functions.Functions.register(s)
    val as = array(lit("martha"), lit("dwayne"), lit("ab"), lit("identical"))
    val bs = array(lit("marhta"), lit("duane"), lit("abcdefghij"), lit("identical"))
    // martha/marhta jw ≈ 0.961 (survives 0.9); dwayne/duane ≈ 0.84
    // (cut); ab vs abcdefghij ratio 0.2 (prunable without scoring)
    s.range(4).select(
      element_at(as, col("id").cast("int") + 1).as("a"),
      element_at(bs, col("id").cast("int") + 1).as("b"))
  }

  test("t=0.9 filter gets exactly one octet_length guard, ahead of the scorer") {
    val df = fixture.filter(expr("jaro_winkler(a, b) >= 0.9"))
    val cond = df.queryExecution.optimizedPlan.toString
    assert(cond.contains("octet_length"), cond)
    // fixpoint-idempotent: ONE guard per jaro conjunct, not one per
    // optimizer iteration (the guard contributes exactly one `least`)
    assert("least\\(".r.findAllIn(cond).size == 1, cond)
    // the guard is the LEFT conjunct: evaluation short-circuits on
    // lengths before the dynamic-programming scorer runs
    assert(cond.indexOf("octet_length") < cond.indexOf("jaro_winkler"), cond)
  }

  test("t=0.75 (vacuous bound) is not rewritten") {
    val cond = fixture.filter(expr("jaro_winkler(a, b) > 0.75"))
      .queryExecution.optimizedPlan.toString
    assert(!cond.contains("octet_length"), cond)
  }

  test("rewrite preserves answers (guard is implied, never filtering)") {
    // expected: score every pair WITHOUT a filterable predicate shape,
    // then filter driver-side
    val scored = fixture.select(col("a"), col("b"),
      expr("jaro_winkler(a, b)").as("jw")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val expected = scored.filter(_._3 >= 0.9).map(t => (t._1, t._2)).toSet
    val got = fixture.filter(expr("jaro_winkler(a, b) >= 0.9"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == expected)
    assert(got == Set(("martha", "marhta"), ("identical", "identical")))
  }

  test("a non-deterministic operand suppresses injection (guard would re-evaluate it)") {
    val s = spark
    graft.functions.Functions.register(s)
    // the guard duplicates the operand expressions; with a rand()-built
    // operand INLINE in the predicate the guard and scorer would see
    // DIFFERENT values, changing filter semantics — the rule must
    // leave such filters alone. (An ATTRIBUTE fed by a non-
    // deterministic projection below stays safe: the attribute is one
    // per-row value, and injection on attributes is fine.)
    val cond = s.range(4).select(lit("x1").as("b"))
      .filter(expr(
        "jaro_winkler(concat('x', cast(cast(rand() * 10 as int) as string)), b) >= 0.9"))
      .queryExecution.optimizedPlan.toString
    assert(!cond.contains("octet_length"), cond)
  }

  test("reversed operand order (t <= jw) and strict > are matched too") {
    val c1 = fixture.filter(expr("0.9 <= jaro_winkler(a, b)"))
      .queryExecution.optimizedPlan.toString
    assert(c1.contains("octet_length"), c1)
    val c2 = fixture.filter(expr("jaro_winkler(a, b) > 0.9"))
      .queryExecution.optimizedPlan.toString
    assert(c2.contains("octet_length"), c2)
  }
}
