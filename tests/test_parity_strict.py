"""Round-13 strict-parity pins for the q_quality_classifier driver row
(VERDICT r12 item 1 — red three rounds running).

The builder's oracle gate canonicalizes floats with round(v, 9); a
driver that hashes exact values is strictly harsher. These tests hold
the classifier — the one catalog query whose hashed float carries its
transcendental call-sites' integer quanta UNROUNDED — to the exact
bar:

1. the portable basic-ops ln (functions/parity.py) is BIT-identical
   between Spark and DuckDB over a broad (a, b) sweep and ≤ 5e-15 from
   libm ln (so swapping it in was value-preserving);
2. the full classifier output is BIT-identical (repr-level, no
   tolerance) to its DuckDB oracle at sf0.001;
3. the classifier output is invariant across differently-configured
   Spark sessions (core count / shuffle partitions / default
   parallelism), via a subprocess session — the cross-session
   determinism pin VERDICT r12 item 1 asks for.
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_portable_ln_bit_identical_and_accurate(spark):
    from cflux_spark.functions.parity import portable_ln_ratio, portable_ln_ratio_steps

    random.seed(23)
    cases = [(1, 1), (1, 2), (2, 1), (3, 2), (2, 3), (1, 256), (1, 10**15),
             (10**15, 1), (167, 165), (17611, 1), (1, 17611), (5, 4), (3, 4)]
    cases += [(random.randint(1, 10**12), random.randint(1, 10**12))
              for _ in range(200)]
    steps, out = portable_ln_ratio_steps("a", "b")
    # the whole-word fold equals the innermost-first textual fold of
    # this step chain, and no step column survives it
    folded = out
    for name, body in reversed(steps):
        folded = folded.replace(name, body)
    assert portable_ln_ratio("a", "b") == folded and "_pl_" not in folded
    df = spark.createDataFrame(cases, "a long, b long")
    for name, body in steps:
        df = df.selectExpr("*", f"{body} AS {name}")
    svals = {(r["a"], r["b"]): r["v"]
             for r in df.selectExpr("a", "b", f"{out} AS v").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE cases(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO cases VALUES (?, ?)", cases)
    q = "SELECT a, b FROM cases"
    for name, body in steps:
        q = f"SELECT *, {body} AS {name} FROM ({q})"
    for a, b, v in con.execute(f"SELECT a, b, {out} AS v FROM ({q})").fetchall():
        assert repr(v) == repr(svals[(a, b)]), (a, b, v, svals[(a, b)])
        assert abs(v - (math.log(a) - math.log(b))) < 5e-15, (a, b, v)
    con.close()


def test_classifier_bit_exact_vs_oracle(spark):
    """No 1e-9 tolerance: every value repr-identical to DuckDB."""
    import __spark_entry__ as e

    sdf = e.queries()["q_quality_classifier"](spark, SF_DIR)
    srows = {r["doc_id"]: (int(r["n_grams"]), repr(float(r["log_odds"])),
                           bool(r["keep"])) for r in sdf.collect()}
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    rel = con.execute(e.oracle_sql()["q_quality_classifier"])
    cols = [d[0] for d in rel.description]
    orows = {}
    for r in rel.fetchall():
        d = dict(zip(cols, r))
        orows[d["doc_id"]] = (int(d["n_grams"]), repr(float(d["log_odds"])),
                              bool(d["keep"]))
    con.close()
    assert srows == orows


_SUBPROC_SNIPPET = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "3"
from cflux_spark.session import get_spark
import __spark_entry__ as e
spark = get_spark("clf_det_probe", cpus=3)
spark.conf.set("spark.sql.shuffle.partitions", "7")
df = e.queries()["q_quality_classifier"](spark, {sf!r})
rows = sorted(
    (int(r["doc_id"]), int(r["n_grams"]), repr(float(r["log_odds"])), bool(r["keep"]))
    for r in df.collect()
)
print("CLF_JSON:" + json.dumps(rows))
spark.stop()
"""


def test_classifier_cross_session_determinism(spark):
    """The classifier's exact output must not depend on session shape:
    compare this session (cpus=4) against a fresh subprocess session
    with a different core count and shuffle-partition setting."""
    import __spark_entry__ as e

    df = e.queries()["q_quality_classifier"](spark, SF_DIR)
    here = sorted(
        (int(r["doc_id"]), int(r["n_grams"]), repr(float(r["log_odds"])),
         bool(r["keep"]))
        for r in df.collect()
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SUBPROC_SNIPPET.format(repo=REPO, sf=SF_DIR)],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "3"},
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("CLF_JSON:")]
    assert lines, f"subprocess failed: {proc.stderr[-2000:]}"
    there = [tuple(r) for r in json.loads(lines[0][len("CLF_JSON:"):])]
    assert here == there
