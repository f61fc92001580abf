"""Driver-heap sizing rule in session.py; starts no JVM."""

import pytest

from unarxive_spark import session

GIB = 1 << 30


@pytest.fixture
def box(monkeypatch):
    """Set the physical-memory and cgroup-limit readings, in GiB."""

    def set_box(physical_gib, cgroup_gib=None):
        monkeypatch.setattr(
            session, "_physical_memory_bytes", lambda: int(physical_gib * GIB)
        )
        limit = None if cgroup_gib is None else int(cgroup_gib * GIB)
        monkeypatch.setattr(session, "_cgroup_memory_limit_bytes", lambda: limit)

    return set_box


@pytest.mark.parametrize(
    "physical_gib, cgroup_gib, expected",
    [
        (16, None, "8g"),
        (15.7, None, "7g"),  # whole GiB, rounded down
        (64, 12, "6g"),  # cgroup limit below physical memory
        (12, 64, "6g"),  # physical memory below cgroup limit
        (96, None, "48g"),
        (512, None, "48g"),  # 48g cap
        (1.5, None, "1g"),  # 1g floor
        (64, 0.5, "1g"),
    ],
)
def test_half_of_usable_memory_within_bounds(box, physical_gib, cgroup_gib, expected):
    box(physical_gib, cgroup_gib)
    assert session.default_driver_memory() == expected


@pytest.mark.parametrize(
    "contents, expected",
    [
        ("max\n", None),  # cgroup v2: no limit
        (f"{12 * GIB}\n", 12 * GIB),
        ("9223372036854771712\n", 9223372036854771712),  # cgroup v1: no limit
    ],
)
def test_cgroup_limit_file(tmp_path, monkeypatch, contents, expected):
    limit_file = tmp_path / "memory.max"
    limit_file.write_text(contents)
    missing = tmp_path / "absent"
    monkeypatch.setattr(session, "_CGROUP_LIMIT_FILES", (str(missing), str(limit_file)))
    assert session._cgroup_memory_limit_bytes() == expected


def test_no_cgroup_limit_falls_back_to_physical_memory(tmp_path, monkeypatch):
    limit_file = tmp_path / "memory.max"
    limit_file.write_text("max\n")
    monkeypatch.setattr(session, "_CGROUP_LIMIT_FILES", (str(limit_file),))
    monkeypatch.setattr(session, "_physical_memory_bytes", lambda: 20 * GIB)
    assert session.default_driver_memory() == "10g"

    monkeypatch.setattr(session, "_CGROUP_LIMIT_FILES", (str(tmp_path / "absent"),))
    assert session.default_driver_memory() == "10g"


def test_session_conf_defaults_and_override(box):
    box(16)
    conf = session.session_conf("local[4]")
    assert conf["spark.driver.memory"] == "8g"
    assert conf["spark.sql.shuffle.partitions"] == "4"

    conf = session.session_conf("local[4]", extra_conf={"spark.driver.memory": "2g"})
    assert conf["spark.driver.memory"] == "2g"
