from __future__ import annotations

import datetime as dt

import pytest

from starryskyqueryengine_spark.schemas import INGEST_POST_SCHEMA
from starryskyqueryengine_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a per-run warehouse: no test can leave tables in the checkout
    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        "ssqe-tests", master="local[4]", shuffle_partitions=8,
        extra_confs={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def make_posts(spark, rows):
    """rows: list of dicts with INGEST_POST_SCHEMA field subsets."""
    filled = []
    for r in rows:
        filled.append(
            {
                "uri": r.get("uri", "at://u/p/1"),
                "cid": r.get("cid", "c1"),
                "author_did": r.get("author_did"),
                "text": r.get("text", ""),
                "langs": r.get("langs"),
                "tags": r.get("tags"),
                "replyParent": r.get("replyParent"),
                "replyRoot": r.get("replyRoot"),
                "images": r.get("images"),
                "labels": r.get("labels", []),
                "createdAt": r.get("createdAt", ts("2024-01-01T00:00:00")),
                "props": r.get("props"),
            }
        )
    return spark.createDataFrame(filled, INGEST_POST_SCHEMA)
