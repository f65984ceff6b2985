"""Driver-heap sizing in sum_spark.session: the pure sizing function on
fake /proc/meminfo and cgroup-limit texts (no JVM), and the error a
failed JVM start raises."""

from __future__ import annotations

import os
import subprocess
import sys

from sum_spark.session import default_heap_mb, driver_mem

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _meminfo(total_kb: int) -> str:
    return f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"


def test_half_of_memtotal():
    assert default_heap_mb(_meminfo(16_479_424)) == 8046  # a 15.7 GiB host


def test_capped_at_20g():
    assert default_heap_mb(_meminfo(64 << 20)) == 20 * 1024


def test_lower_cgroup_limit_wins():
    assert default_heap_mb(_meminfo(64 << 20), "4294967296\n") == 2048


def test_unlimited_cgroup_is_ignored():
    want = default_heap_mb(_meminfo(16 << 20))
    assert want == 8192
    assert default_heap_mb(_meminfo(16 << 20), "max\n") == want  # cgroup v2
    assert default_heap_mb(_meminfo(16 << 20), "9223372036854771712\n") == want  # v1


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_mem() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert driver_mem().endswith("m") and int(driver_mem()[:-1]) <= 20 * 1024


def test_failed_jvm_start_raises_a_python_error():
    """A heap the machine cannot reserve stops the JVM at once; the
    caller gets SessionStartError naming the heap, not a bare gateway
    failure. Runs in a child process so this session is untouched."""
    code = (
        "from sum_spark.session import SessionStartError, get_spark\n"
        "try:\n"
        "    get_spark(cpus=1)\n"
        "except SessionStartError as e:\n"
        "    print('START-ERROR', e)\n"
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "100000g", "PYTHONPATH": ROOT}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120
    )
    assert "START-ERROR" in out.stdout and "100000g" in out.stdout, out.stdout + out.stderr
