"""Every embedding operator module imports cleanly as the FIRST package
module of a fresh interpreter, and the registry still ends up complete.

``semantic`` and ``similarity`` import each other: semantic pulls
``as_double_vec``/``dot`` only after its quantizer constants are bound,
and similarity registers ``knn_ivf_pq`` with an oracle built from
semantic's CTE generator. ``dedup`` and ``similarity`` do the same:
dedup's candidate CTEs take their band SQL from ``similarity._lsh_bands_sql``
while similarity's kNN-graph and hard-negative oracles are built from
dedup's candidate CTEs. Moving a helper across either cycle can break
one entry order while the other still works, and the suite — which
imports everything through ``all_queries()`` — would see it only as a
Python-worker ``NameError`` inside one vectorized test. No JVM needed:
module bodies build SQL strings, never Columns."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_lake_construction_and_querying_with_pyspark_spark"
N_REGISTERED = 151


@pytest.mark.parametrize(
    "module",
    [
        "semantic",
        "similarity",
        "semantic_vectorized",
        "similarity_vectorized",
        "dedup_vectorized",
        "pca",
        "dedup",
        "incremental",
    ],
)
def test_operator_module_imports_first(module):
    code = (
        f"import {PKG}.operators.{module}\n"
        f"from {PKG}.registry import all_queries\n"
        f"n = len(all_queries())\n"
        f"assert n == {N_REGISTERED}, n\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
