"""Retrofit dataset metadata onto an existing parquet store (parity:
petastorm/etl/petastorm_generate_metadata.py:47-111, S10).

    python -m petastorm_spark.etl.generate_metadata DATASET_URL
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from petastorm_spark.etl.dataset_metadata import load_unischema, write_dataset_metadata
from petastorm_spark.unischema import Unischema


def generate_metadata(
    spark: SparkSession, dataset_url: str, unischema: Unischema | None = None
) -> Unischema:
    """Write (or refresh) the dataset's metadata with the same writer as
    ``materialize_dataset``: fresh row-group counts, the JSON sidecar and
    the petastorm-compat ``_common_metadata`` footer. Without an
    explicit Unischema the stored one is kept (sidecar, else a reference
    ``_common_metadata``, so tensor codecs survive), else one is
    inferred from the store — the reference's use_schema_from_dataset
    path."""
    if unischema is None:
        unischema = load_unischema(spark, dataset_url) or Unischema.from_spark_schema(
            spark.read.parquet(dataset_url).schema
        )
    write_dataset_metadata(spark, dataset_url, unischema)
    return unischema


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("dataset_url")
    args = p.parse_args()

    from petastorm_spark.session import get_spark

    generate_metadata(get_spark("generate_metadata"), args.dataset_url)


if __name__ == "__main__":
    main()
