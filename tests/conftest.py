from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from semantic_pdf_search_engine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def both_paths():
    """`for path in both_paths():` runs a test body once per score_topk
    path: "local" at the default LOCAL_POSTINGS_CAP (every fixture-scale
    query fits under it), then "spark" with the cap at 0, which forces
    the Spark DAG (score_topk_batch's, run as a batch of one query) —
    without that pass the Spark path's properties would go untested at
    fixture scale. The cap is restored after each loop and at
    teardown."""
    from semantic_pdf_search_engine_spark.plans import query

    cap = query.LOCAL_POSTINGS_CAP

    def paths():
        for path, c in (("local", cap), ("spark", 0)):
            query.LOCAL_POSTINGS_CAP = c
            yield path
        query.LOCAL_POSTINGS_CAP = cap

    yield paths
    query.LOCAL_POSTINGS_CAP = cap
