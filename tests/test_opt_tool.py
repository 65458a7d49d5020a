"""The interleaved A/B harness (``tools/opt_r12.py``) must leave the session
as it found it between variants."""

from __future__ import annotations

import importlib.util
import os

from kafka_streaming_spark.session import BASE_CONF

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "opt_r12.py"
)


def _load_tool():
    spec = importlib.util.spec_from_file_location("opt_r12", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_clear_variant_restores_session_values(spark, monkeypatch):
    """ADVICE item 4: a key ``session.BASE_CONF`` sets is back at its session
    value after ``apply_variant`` + ``clear_variant`` — not at Spark's
    default, which ``spark.conf.unset`` would leave for every later variant.
    A key that had no value is unset again; env keys are restored (or
    removed) the same way."""
    tool = _load_tool()
    key = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    assert key in BASE_CONF
    session_value = spark.conf.get(key)
    unset_key = "spark.graft.ab.unsetProbe"
    assert spark.conf.get(unset_key, None) is None
    monkeypatch.setenv("GRAFT_AB_SET", "before")
    monkeypatch.delenv("GRAFT_AB_UNSET", raising=False)

    variant = tool.parse_variant(
        f"{key}=0,{unset_key}=1,env:GRAFT_AB_SET=after,env:GRAFT_AB_UNSET=new"
    )
    prior = tool.apply_variant(spark, variant)
    assert spark.conf.get(key) == "0"
    assert spark.conf.get(unset_key) == "1"
    assert os.environ["GRAFT_AB_SET"] == "after"
    assert os.environ["GRAFT_AB_UNSET"] == "new"

    tool.clear_variant(spark, prior)
    assert spark.conf.get(key) == session_value
    assert os.environ["GRAFT_AB_SET"] == "before"
    assert "GRAFT_AB_UNSET" not in os.environ
    assert spark.conf.get(unset_key, None) is None
