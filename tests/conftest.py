"""The one Spark session of the test run.

A process's JVM options and driver memory come from its first session,
so every test shares this one, built by the engine's own
`pipeline.session.make_session` (the Arrow batch cap, AQE and GC flags
the benchmark runs with). It is stopped once, after the last test; a
module that changes a session setting puts the old value back.
"""

import pytest


@pytest.fixture(scope="session")
def spark():
    from smartreader_spark.pipeline.session import make_session

    s = make_session(app_name="smartreader-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
