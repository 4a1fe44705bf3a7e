"""Print the formatted physical plan of one registry query.

Usage: python tools/explain_query.py <query_name> [sf_dir]
(stdout is the plan; redirect it to a file to diff two versions)

Env SPARK_GRAFT_EXPLAIN_CONF="k=v,k2=v2" sets session confs before
building the plan (e.g. forcing a size-gated scale branch).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from website_traffic_etl_gcp_spark import plans  # noqa: E402
from website_traffic_etl_gcp_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    for kv in os.environ.get("SPARK_GRAFT_EXPLAIN_CONF", "").split(","):
        if "=" in kv:
            k, v = kv.split("=", 1)
            spark.conf.set(k.strip(), v.strip())
    df = plans.REGISTRY[name].builder(spark, sf_dir)
    df.explain("formatted")


if __name__ == "__main__":
    main()
