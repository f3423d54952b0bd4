"""Self-enforcing 100-TB posture: source-level bans on driver-side and
quadratic constructs, so a future edit can't quietly regress the scale
story the plan tests pin operator-by-operator.

Banned outside the allowlist below:

- ``.collect()`` / ``.toPandas()`` — driver materialization; every allowed
  occurrence is a provably tiny frame (a K×dim centroid table, a 1-row
  footer-stats aggregate).
- ``.crossJoin(`` — only legal as broadcast-scalar attachment (a 1-row
  broadcast side).
- ``F.udf`` / ``@udf`` — row-at-a-time Python in the hot path; Arrow-batched
  pandas UDFs are the only sanctioned Python execution.
- ``.rdd`` — the RDD API (partition-count introspection is allowed; RDD
  transformations are not).

The allowlist is (path, substring-of-line) pairs: a hit matching an entry
is accepted, anything else fails with the offending location. Tests and
tools are exempt (driver-side collects are the point there).
"""

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "go_pq_cdc_kafka_spark")

BANNED = re.compile(
    r"\.collect\(\)|\.toPandas\(\)|\.crossJoin\(|F\.udf\(|@udf\b|\.rdd\b"
)

ALLOWED = [
    # 1-row global-stats aggregate (footer-only maintenance pass)
    ("operators/maintenance.py", ".collect()[0]"),
    # broadcast-scalar attachment: the non-broadcast side is 1 row
    ("operators/maintenance.py", "crossJoin(F.broadcast"),
    ("operators/search.py", "crossJoin(F.broadcast"),
    # partition-count introspection (no RDD transformation)
    ("streaming/handoff.py", ".rdd.getNumPartitions()"),
    ("catalog.py", ".rdd.getNumPartitions()"),
    # 10-row driver-side synthesis of the binaryFile scan's fixture files
    ("queries.py", "fixture-file synthesis only"),
]


def test_no_driver_side_or_quadratic_constructs_in_source():
    violations = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    stripped = line.split("#", 1)[0]  # prose in comments is fine
                    if "``" in line:
                        continue  # reStructuredText prose in a docstring
                    if not BANNED.search(stripped):
                        continue
                    if any(
                        rel == apath and marker in line
                        for apath, marker in ALLOWED
                    ):
                        continue
                    violations.append(f"{rel}:{lineno}: {line.strip()}")
    assert not violations, (
        "driver-side/quadratic construct outside the allowlist "
        "(see module docstring):\n" + "\n".join(violations)
    )


def test_unpartitioned_windows_are_justified():
    """Every literal ``Window.orderBy(`` (an UNPARTITIONED window — the
    WindowExec 'moving all data to a single partition' shape) must be
    provably bounded: within the surrounding 12 lines there must be a
    ``.limit(`` (the top-k-then-number pattern) or a ``bounded`` /
    ``scale-safe`` justification comment. A full-corpus unpartitioned
    window is exactly the defect class the round-7 verdict caught in
    sample_curriculum_order — this rule keeps it from reappearing.
    (Runtime-unpartitioned windows built via ``Window.partitionBy(*cols)``
    with an empty list are covered per-query by tests/test_plans.py's
    row_number partition-spec assertions.)"""
    violations = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as f:
                lines = f.readlines()
            for i, line in enumerate(lines):
                if "Window.orderBy(" not in line.split("#", 1)[0]:
                    continue
                lo, hi = max(0, i - 12), min(len(lines), i + 5)
                ctx = "".join(lines[lo:hi])
                if ".limit(" in ctx or "bounded" in ctx or "scale-safe" in ctx:
                    continue
                violations.append(f"{rel}:{i + 1}: {line.strip()}")
    assert not violations, (
        "unpartitioned window without a .limit/bounded justification "
        "in context:\n" + "\n".join(violations)
    )


def test_no_unbounded_single_partition_window_or_product_join_in_plans(spark):
    """PLAN-level generalization of the textual rules above, over the WHOLE
    registry: build every registry query's physical plan at sf0.001 and
    walk it for the two classic silent scale killers Catalyst can produce
    from innocent-looking code:

    1. A Window operator over SinglePartition input (empty partitionSpec)
       whose subtree is not provably bounded — a Limit /
       TakeOrderedAndProject below it (the top-k-then-number pattern) or
       an aggregate (the input is already group-level, not corpus rows).
       Correct at sf0.01, one straggler task at 100 TB.
    2. A CartesianProductExec or BroadcastNestedLoopJoinExec whose BUILD
       side (for BNLJ; either side for a cartesian) is not bounded by an
       aggregate/limit below it. The legitimate shape — the 1-row
       broadcast-scalar attach — always has an aggregate under the
       broadcast side; an unbounded product join is |A|x|B| work that a
       textual ``.crossJoin`` allowlist cannot see when Catalyst DERIVES
       the product from a non-equi join condition.

    The textual rules can be evaded by aliasing; this walk sees the plan
    Catalyst actually produced, so it cannot."""
    from go_pq_cdc_kafka_spark.queries import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")
    window_ops = {"WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"}
    product_ops = {"CartesianProductExec", "BroadcastNestedLoopJoinExec"}
    bounders = {
        "CollectLimitExec", "GlobalLimitExec", "LocalLimitExec",
        "TakeOrderedAndProjectExec", "HashAggregateExec",
        "SortAggregateExec", "ObjectHashAggregateExec",
        # driver-materialized constant data (createDataFrame of a K-row
        # centroid/model table) — bounded by construction, never corpus
        "LocalTableScanExec", "RDDScanExec",
    }

    def walk(node):
        yield node
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))

    def bounded(node):
        return any(
            m.getClass().getSimpleName() in bounders for m in walk(node)
        )

    def subtree_bounded(node):
        children = node.children()
        return any(bounded(children.apply(i)) for i in range(children.size()))

    offenders = []
    for name in sorted(REGISTRY):
        plan = REGISTRY[name].fn(spark, sf)._jdf.queryExecution().sparkPlan()
        for n in walk(plan):
            kind = n.getClass().getSimpleName()
            if (
                kind in window_ops
                and n.partitionSpec().isEmpty()
                and not subtree_bounded(n)
            ):
                offenders.append(f"{name}: unbounded SinglePartition {kind}")
            elif kind in product_ops:
                children = n.children()
                sides = [children.apply(i) for i in range(children.size())]
                if kind == "BroadcastNestedLoopJoinExec":
                    # the broadcast (build) side must be bounded; py4j
                    # exposes buildSide() as BuildLeft/BuildRight
                    try:
                        build = 0 if "Left" in n.buildSide().toString() else 1
                        ok = bounded(sides[build])
                    except Exception:
                        ok = any(bounded(s) for s in sides)
                else:
                    ok = any(bounded(s) for s in sides)
                if not ok:
                    offenders.append(f"{name}: unbounded {kind}")
    assert not offenders, (
        "scale-killer shape in a physical plan (unbounded global window "
        "or product join):\n" + "\n".join(offenders)
    )


#: the dedup operators whose strategy comes from operators/scale.py, and the
#: per-call knobs that policy replaced
SCALED_OPERATORS = {
    "minhash_lsh_pairs", "minhash_incremental_pairs", "ngram_jaccard_pairs",
    "ngram_containment_pairs", "cosine_dedup_pairs",
}
REMOVED_KNOBS = {"persist", "pair_join", "eager", "semi_filter", "band_local"}
#: the regime boundaries; only operators/scale.py may compare against them
BOUNDARIES = {100_000, 1_000_000}


def test_scale_policy_lives_in_one_module():
    """A size switch is one policy (operators/scale.py), not a literal row
    threshold at each call site: outside that module no code compares
    against a regime boundary, and no caller hands one of the five dedup
    operators a strategy knob — they take ``rows`` and read the regime.
    Boundary literals used as arithmetic (``h % 1_000_000``, a
    fixed-point ``scale=``) stay legal; only comparisons are switches."""
    import ast

    repo = os.path.dirname(PKG)
    paths = [os.path.join(PKG, "queries.py")]
    for sub in (os.path.join(PKG, "operators"), os.path.join(repo, "tools"),
                os.path.join(repo, "examples")):
        paths += [os.path.join(sub, f) for f in sorted(os.listdir(sub))
                  if f.endswith(".py") and f != "scale.py"]
    violations = []
    for path in paths:
        rel = os.path.relpath(path, repo)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Compare):
                operands = [node.left, *node.comparators]
                if any(isinstance(o, ast.Constant) and o.value in BOUNDARIES
                       for o in operands):
                    violations.append(
                        f"{rel}:{node.lineno}: threshold {ast.unparse(node)}"
                    )
            elif isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                    fn, "id", None
                )
                knobs = {k.arg for k in node.keywords} & REMOVED_KNOBS
                if name in SCALED_OPERATORS and knobs:
                    violations.append(
                        f"{rel}:{node.lineno}: {name}({', '.join(sorted(knobs))}=...)"
                    )
    assert not violations, (
        "size switch outside operators/scale.py (pass rows= and read "
        "scale.regime):\n" + "\n".join(violations)
    )
