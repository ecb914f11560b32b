"""Session defaults that need no Spark: the driver-memory default and
the spread partition count's reading of spark.sql.shuffle.partitions."""

from __future__ import annotations

from types import SimpleNamespace

from heavydb_spark import session


def _write(tmp_path, name, text):
    path = tmp_path / name
    path.write_text(text)
    return str(path)


def test_memory_limit_takes_smaller_of_host_and_cgroup(tmp_path):
    meminfo = _write(tmp_path, "meminfo",
                     "MemTotal:       16000000 kB\nMemFree: 1 kB\n")
    v2 = _write(tmp_path, "memory.max", "4294967296\n")
    unlimited = _write(tmp_path, "unlimited", "max\n")
    missing = str(tmp_path / "absent")
    assert session._memory_limit_bytes(meminfo, (v2, missing)) == 2**32
    assert session._memory_limit_bytes(meminfo, (unlimited,)) \
        == 16000000 * 1024
    assert session._memory_limit_bytes(missing, (missing,)) is None


def test_default_driver_memory_leaves_headroom():
    gb = 2**30
    assert session.default_driver_memory(15 * gb) == "7680m"
    assert session.default_driver_memory(4 * gb) == "2048m"
    assert session.default_driver_memory(1 * gb) == "1024m"  # floor
    assert session.default_driver_memory(256 * gb) == "16384m"  # cap
    assert session.default_driver_memory(None) == "16g"


def _fake_spark(shuffle_partitions: str, cores: int):
    conf = {"spark.sql.shuffle.partitions": shuffle_partitions}
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=cores),
        conf=SimpleNamespace(get=lambda k, d=None: conf.get(k, d)),
    )


def test_spread_partition_count_numeric():
    assert session.spread_partition_count(_fake_spark("64", 8)) == 64
    assert session.spread_partition_count(_fake_spark("2", 8)) == 8


def test_spread_partition_count_non_numeric_falls_back():
    assert session.spread_partition_count(_fake_spark("auto", 8)) == 8
