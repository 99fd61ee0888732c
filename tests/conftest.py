from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("purescript-ifrit-spark-tests")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="ifrit_wh_"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


# A nested-document fixture exercising the reference's document model
# (nested objects, arrays of numbers, arrays of objects). Designed by us —
# NOT the reference's FF "mages" fixture.
WIZARDS_SCHEMA = {
    "name": "string",
    "evil": "boolean",
    "profile": {
        "bio": {"age": "number", "school": "string"},
        "body": {"height": "number"},
    },
    "scores": ["number"],
    "wands": [{"wood": "string", "power": "number"}],
}

WIZARDS_ROWS = [
    ("aldric", False, ((34.0, "storm"), (1.81,)), [3.0, 5.0, 8.0],
     [("oak", 12.0), ("ash", 7.0)]),
    ("belra", True, ((41.0, "ember"), (1.65,)), [9.0, 9.0],
     [("yew", 21.0)]),
    ("coven", False, ((19.0, "storm"), (1.92,)), [1.0],
     [("elm", 4.0), ("oak", 16.0), ("ash", 2.0)]),
    ("dmira", True, ((27.0, "tide"), (1.70,)), [],
     []),
    ("elwin", False, ((27.0, "ember"), (1.75,)), [6.0, 2.0, 4.0, 4.0],
     [("oak", 9.0)]),
    ("fyra", True, ((55.0, "tide"), (1.60,)), [7.0],
     [("yew", 30.0), ("elm", 11.0)]),
]


@pytest.fixture(scope="session")
def wizards(spark):
    from purescript_ifrit_spark.schema import schema_from_json

    struct = schema_from_json(WIZARDS_SCHEMA).to_spark()
    return spark.createDataFrame(WIZARDS_ROWS, struct)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def batch_ann_tiers():
    """The six batch ANN tiers as {name: fn(df, queries, query_ids, k)}
    over a 4-dim corpus carrying `vec_id`, `embedding`, `pq_code` (2
    subspaces of 2 centers) and `ivf_cell` (2 cells); the IVF tiers
    probe every cell and LSH probes only the query's own bucket."""
    import numpy as np

    from purescript_ifrit_spark.operators import similarity as S

    books = np.zeros((2, 2, 2))
    books[:, 1, 0] = 0.5
    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    planes = S.make_hyperplanes(4, 3, seed=1)
    return {
        "cosine": lambda df, q, ids, k: S.cosine_topk_batch(
            df, "vec_id", "embedding", q, ids, k=k
        ),
        "lsh": lambda df, q, ids, k: S.lsh_topk_batch(
            df, "vec_id", "embedding", q, ids, planes, k=k, probe_hamming=0
        ),
        "ivf": lambda df, q, ids, k: S.ivf_topk_batch(
            df, "vec_id", "embedding", q, ids, cents, k=k, nprobe=2
        ),
        "pq": lambda df, q, ids, k: S.pq_topk_batch(
            df, "vec_id", "pq_code", q, ids, books, k=k
        ),
        "ivf_pq_residual": lambda df, q, ids, k: S.ivf_pq_topk_residual_batch(
            df, "vec_id", "pq_code", q, ids, books, cents, k=k, nprobe=2
        ),
        "l2": lambda df, q, ids, k: S.l2_topk_batch(
            df, "vec_id", "embedding", q, ids, k=k
        ),
    }


def tied_ann_corpus(spark, n=40, partitions=4):
    """`n` copies of one unit vector (ids 0..n-1) in cell 0 with one
    shared PQ code, split across `partitions` partitions: every tier's
    scores tie on every row."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0], [0, 0], 0) for i in range(n)]
    return spark.createDataFrame(
        rows,
        "vec_id long, embedding array<double>, pq_code array<int>, "
        "ivf_cell int",
    ).repartition(partitions)
