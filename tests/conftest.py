from __future__ import annotations

import os
import shutil

import pytest

from recidiviz_data_spark.gen import ChangelogSpec, gen_changelog
from recidiviz_data_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the session factory's 48g default lets the test JVM grow past a small
    # host's memory (lazy GC); the suite's data needs a fraction of this
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    s = get_spark("local[8]", shuffle_partitions=8, app_name="rds-tests")
    yield s


@pytest.fixture(scope="session")
def changelog_small(tmp_path_factory) -> tuple[str, ChangelogSpec]:
    """The workhorse fixture: dups + deletes + stale replays + schema bump."""
    d = str(tmp_path_factory.mktemp("changelog_small"))
    shutil.rmtree(d, ignore_errors=True)
    spec = gen_changelog(
        d,
        n_docs=400,
        n_events=4000,
        n_batches=5,
        delete_rate=0.08,
        dup_rate=0.05,
        stale_rate=0.05,
        schema_bump_frac=0.6,
    )
    return d, spec


@pytest.fixture(scope="session")
def changelog_plain(tmp_path_factory) -> tuple[str, ChangelogSpec]:
    """No schema evolution — v1 payload only."""
    d = str(tmp_path_factory.mktemp("changelog_plain"))
    spec = gen_changelog(d, n_docs=300, n_events=3000, n_batches=4, delete_rate=0.1)
    return d, spec
