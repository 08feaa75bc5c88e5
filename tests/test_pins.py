"""The pin contract (sensor_data_pipeline_spark/pins.py)."""

from __future__ import annotations

import ast
import pathlib

import sensor_data_pipeline_spark
from sensor_data_pipeline_spark.pins import observing, pin


def test_no_pin_outside_the_primitive():
    """No raw ``localCheckpoint`` call and no ``composed_pins`` scope
    anywhere in the package but pins.py."""
    root = pathlib.Path(sensor_data_pipeline_spark.__file__).parent
    raw = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "pins.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if "localCheckpoint" == getattr(node, "attr", None)
        or "composed_pins" in (getattr(node, "id", None), getattr(node, "attr", None), getattr(node, "name", None))
    ]
    assert not raw, raw


def test_pin_scopes_aqe_and_tells_observers(spark):
    aqe = "spark.sql.adaptive.enabled"
    frame = spark.range(64).selectExpr("id % 5 AS k", "id AS v")
    seen = []
    with observing(lambda df, lazy: seen.append((lazy, spark.conf.get(aqe)))):
        static = pin(frame, lazy=True, adaptive=False)
        pin(frame)
    pin(frame)  # outside the scope: not observed
    assert seen == [(True, "false"), (False, "true")]
    assert spark.conf.get(aqe) == "true"  # the build scope restored the session conf
    assert sorted(r.v for r in static.collect()) == list(range(64))
