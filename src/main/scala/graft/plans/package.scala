package graft

/** Custom planning tier: optimizer rules live here; plan NODES are
  * intentionally absent.
  *
  * Round 5 added the first `Rule[LogicalPlan]`
  * ([[graft.plans.BandedLevenshteinRule]]): a value-preserving rewrite of
  * naive `levenshtein(a,b) <= k` predicates into the O(k·len) banded
  * 3-arg form — an optimization that belongs in the planner (every SQL
  * call site benefits) rather than in operator code. The audit below for
  * plan *nodes* still stands.
  *
  * SURVEY.md §4 audited every behavior the reference relies on against
  * stock Catalyst: predicate pushdown, column pruning, broadcast choice,
  * window/aggregate execution, correlated-subquery rewrites and constant
  * folding are all covered by built-in rules, and the reference implements
  * zero optimizations of its own (SQL Server did its planning). The only
  * operator semantics Spark's built-ins could not express efficiently were
  * scalar vector kernels — implemented as `Expression`s with `doGenCode`
  * in [[graft.functions]], the lightest extension point, not as plans.
  *
  * Round-2 re-audit confirmed the decision: the operators added since
  * (connected components, hot-bucket-capped LSH candidates, stream-stream
  * joins, chunking/contamination) all decompose into stock
  * joins/aggregates/explodes whose physical strategies Catalyst already
  * picks well — the only new hot-path semantics (minhash signature
  * agreement) again fit the `Expression` tier
  * ([[graft.functions.SignatureMatchCount]], `sig_match`). The iterative
  * loops need lineage control (the per-round checkpoints of
  * [[graft.util.Iterate]]), which no custom plan node would remove — it is
  * a property of iteration, not of planning.
  *
  * If a future round needs whole-operator semantics (e.g. a native as-of
  * join), the growth path is: custom `LogicalPlan` + `Rule[LogicalPlan]` +
  * `SparkStrategy` + `SparkPlan` registered through the existing
  * [[graft.functions.GraftExtensions]] injection point.
  */
package object plans
