from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from geospark.conf import apply_tuned
    s = (apply_tuned(SparkSession.builder.master("local[8]"))
         .appName("geospark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "16g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def many_edge_zone():
    """(zone_id, wkb) of one 200-edge polygon in the South Pacific.
    Adding it to a small zone side pushes the side's edge count past
    the expression refine's limit, so the whole side refines by UDF."""
    import numpy as np

    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.wkb import write_wkb
    t = np.linspace(0.0, 2.0 * np.pi, 200, endpoint=False)
    r = np.where(np.arange(200) % 2 == 0, 3.0, 2.0)
    xs, ys = -140.0 + r * np.cos(t), -55.0 + r * np.sin(t)
    ring = ", ".join(f"{x!r} {y!r}" for x, y in zip(xs, ys))
    wkt = f"POLYGON (({ring}, {xs[0]!r} {ys[0]!r}))"
    return 999, write_wkb(parse_wkt(wkt))
