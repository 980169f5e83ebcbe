"""configure_session: the confs results depend on fail loudly, the
speed-only confs degrade quietly."""

from __future__ import annotations

import pytest

from i2mapreduce_spark.session import (
    REQUIRED_CONFS,
    SQL_CONFS,
    configure_session,
    warehouse_dir,
)


class _Conf:
    def __init__(self, refused: set[str]):
        self.refused, self.values = refused, {}

    def set(self, key: str, value: str) -> None:
        if key in self.refused:
            raise ValueError(f"cannot modify {key}")
        self.values[key] = value


class _Session:
    def __init__(self, refused: set[str]):
        self.conf = _Conf(refused)


@pytest.mark.parametrize("key", REQUIRED_CONFS)
def test_required_conf_refusal_raises(key):
    with pytest.raises(RuntimeError, match=key):
        configure_session(_Session({key}), shuffle_partitions=8)


def test_speed_conf_refusal_degrades_quietly():
    optional = set(SQL_CONFS) - set(REQUIRED_CONFS)
    assert any("adaptive" in k for k in optional)
    assert any("arrow" in k for k in optional)
    s = _Session(optional | {"spark.sql.shuffle.partitions"})
    configure_session(s, shuffle_partitions=8)
    assert s.conf.values == {k: SQL_CONFS[k] for k in REQUIRED_CONFS}


def test_warehouse_dir_is_this_process_own(spark):
    """Two processes writing one bucketed table must not share a managed
    LOCATION: the warehouse is a fresh directory of this process."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    assert wh.rstrip("/").endswith(warehouse_dir())
    assert "/tmp/i2mr-warehouse" not in {wh, wh.removeprefix("file:")}
