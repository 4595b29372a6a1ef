"""Dump formatted physical plans for the audit in PLANS.md."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as e  # noqa: E402
from largeea_spark.session import get_spark  # noqa: E402

QUERIES = [
    "tpch_q1", "share_triples_join", "orders_of_building_segment",
    "doc_tfidf", "topk_parts_per_supplier", "emb_knn_cosine",
    "mutual_argmax_acctbal",
]


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    qs = e.queries()
    for name in QUERIES:
        print(f"\n================= {name}")
        qs[name](spark, sf).explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
