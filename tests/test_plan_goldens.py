"""Plan-SHAPE golden regression for every headline query
(__spark_entry__.HEADLINE, the set bench.py times).

The value-correctness oracle can't see a broadcast silently degrading to
sort-merge, a join reordering adding an exchange, or a fact table scanned
twice — plan shapes only fail the targeted asserts in test_plans.py for
the handful of queries they cover.  This test pins the join-strategy /
exchange / scan / window counts (plans.inspect.plan_signature) of ALL 36
headline queries against a committed golden, so any code change that
alters a headline plan shape is a visible, reviewed diff instead of a
silent 100 TB regression.

Caveats: signatures are taken at sf0.001 with the test session's config
(local[4], 4 shuffle partitions) — Catalyst's broadcast decisions depend
on file statistics, so the pinned shapes are THIS fixture's; that is
enough for regression purposes (fixtures and Spark version are fixed per
environment).  Regenerate after an INTENDED plan change:

    python - <<'PY'
    import sys, json; sys.path.insert(0, '.')
    from pyspark_kmeans_spark.session import get_spark
    from pyspark_kmeans_spark.plans.inspect import plan_signature
    import __spark_entry__ as e
    spark = get_spark(app_name="golden_gen", master="local[4]",
                      shuffle_partitions=4)
    q = e.queries()
    goldens = {n: plan_signature(q[n](spark, "/root/testdata/sf0.001"))
               for n in e.HEADLINE}
    json.dump(goldens, open("tests/plan_goldens.json", "w"),
              indent=1, sort_keys=True)
    PY
"""

from __future__ import annotations

import json
import os

import __spark_entry__ as entrymod
from pyspark_kmeans_spark.plans.inspect import plan_signature

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "plan_goldens.json")


def test_headline_plan_shapes_match_golden(spark, sf_dir):
    with open(GOLDEN_PATH) as f:
        goldens = json.load(f)
    queries = entrymod.queries()
    assert set(goldens) == set(entrymod.HEADLINE), (
        "golden file out of sync with __spark_entry__.HEADLINE — regenerate "
        "(recipe in this module's docstring)"
    )
    diffs = {}
    for name in entrymod.HEADLINE:
        got = plan_signature(queries[name](spark, sf_dir))
        if got != goldens[name]:
            diffs[name] = {"golden": goldens[name], "got": got}
    assert not diffs, (
        "headline plan shapes changed — if intended, regenerate the "
        f"golden (recipe in module docstring):\n{json.dumps(diffs, indent=1)}"
    )
