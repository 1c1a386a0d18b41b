"""Versioned scaffolds (the memoized tables the registered versioned
queries read) are owned: release_versioned_cache() drops every one and
deletes its catalog directory, and the next query rebuilds."""

from __future__ import annotations

import os

from dbt_parquet_spark import versioned
from dbt_parquet_spark.sources.readers import load_table

from .conftest import SF_SMALL


def test_release_versioned_cache_reaps_every_scaffold(spark):
    lifecycle, _ = versioned._lifecycle_table(spark, SF_SMALL)
    checked, _ = versioned._constraint_table(spark, SF_SMALL)
    dirs = [lifecycle.database, checked.database]
    assert all(os.path.isdir(d) for d in dirs)

    versioned.release_versioned_cache()
    assert not any(os.path.exists(d) for d in dirs)
    assert not versioned._SCAFFOLD_CACHE

    # the next query rebuilds its scaffold in a fresh catalog
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    assert versioned.q_time_travel(spark, SF_SMALL).count() == n_docs
    rebuilt, _ = versioned._lifecycle_table(spark, SF_SMALL)
    assert rebuilt.database not in dirs and os.path.isdir(rebuilt.database)
