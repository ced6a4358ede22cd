"""Session factory guards."""

import pytest


def test_get_spark_warns_when_session_already_exists(spark):
    """getOrCreate hands back the running session and ignores this
    call's static confs even when the master matches — the A/B harness
    case — so get_spark must say so."""
    from bloom_filters_spark.session import get_spark

    # the same arguments as the suite's session: runtime confs it
    # re-applies to the shared session stay unchanged
    with pytest.warns(RuntimeWarning, match="already exists"):
        again = get_spark("pytest", cores=8, shuffle_partitions=8)
    assert again.sparkContext is spark.sparkContext
