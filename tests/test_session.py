"""get_spark on a running session: settings it cannot apply are named."""

from __future__ import annotations

import warnings

import pytest

from standard_data_quality_framework_spark.session import get_spark


def test_reused_session_warns_on_settings_not_in_effect(spark):
    # the session fixture runs local[4] with a 4g driver; a running
    # SparkContext keeps both, whatever a later get_spark asks for
    with pytest.warns(RuntimeWarning) as rec:
        again = get_spark("sdqf_tests", cores=2, shuffle_partitions=4,
                          extra_conf={"spark.driver.memory": "3g"})
    assert again is spark
    msg = str(rec[0].message)
    assert "master='local[2]' (running 'local[4]')" in msg
    assert "spark.driver.memory='3g' (running '4g')" in msg
    assert "spark.sql." not in msg
    assert spark.sparkContext.getConf().get("spark.driver.memory") == "4g"
    # asking for what is running is silent (and resets the session's
    # echoed spark.driver.memory to the running value)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        get_spark("sdqf_tests", cores=4, shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "4g"})
    assert spark.conf.get("spark.driver.memory") == "4g"
