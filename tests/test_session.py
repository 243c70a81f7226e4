"""Host-sized sessions: the driver heap and the default CPU count come
from the host unless SPARK_DRIVER_MEM / SPARK_GRAFT_CPUS say otherwise."""

import json
import os
import subprocess
import sys

from wikidata_dump_processor_spark import session

GIB = 1 << 30
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_host(tmp_path, mem_total_kb, limits):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemFree:         1000 kB\n"
        f"MemTotal:       {mem_total_kb} kB\n"
        "MemAvailable:    2000 kB\n"
    )
    paths = []
    for i, raw in enumerate(limits):
        p = tmp_path / f"limit{i}"
        p.write_text(raw + "\n")
        paths.append(str(p))
    return str(meminfo), tuple(paths)


def test_host_memory_is_min_of_meminfo_and_cgroup(tmp_path):
    kb16 = 16 * GIB // 1024
    meminfo, limits = _fake_host(tmp_path, kb16, ["max"])
    assert session.host_memory_bytes(meminfo, limits) == 16 * GIB
    # a cgroup limit below physical memory wins; a missing file is skipped
    meminfo, limits = _fake_host(tmp_path, kb16, [str(6 * GIB)])
    missing = str(tmp_path / "no-such-cgroup-file")
    assert session.host_memory_bytes(meminfo, (missing, *limits)) == 6 * GIB
    # cgroup v1 "unlimited" is a huge number, not a limit
    meminfo, limits = _fake_host(tmp_path, kb16, ["9223372036854771712"])
    assert session.host_memory_bytes(meminfo, limits) == 16 * GIB


def test_driver_memory_fraction_floor_and_override(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "host_memory_bytes", lambda: 15 * GIB + 123)
    assert session.driver_memory() == "3840m"  # 1/4, rounded to 256 MiB
    monkeypatch.setattr(session, "host_memory_bytes", lambda: 2 * GIB)
    assert session.driver_memory() == "1024m"  # floor
    monkeypatch.setenv("SPARK_DRIVER_MEM", "6g")
    assert session.driver_memory() == "6g"


def test_get_spark_starts_without_env_sizing():
    """A session starts with neither SPARK_DRIVER_MEM nor SPARK_GRAFT_CPUS
    set: the heap is the host-derived one and the master uses this
    process's CPU affinity.  The JVM runs beside the suite's own session,
    so its host reading is forced to 6 GiB (a 1.5 GiB pinned heap)."""
    code = (
        "import json, os\n"
        "from wikidata_dump_processor_spark import session\n"
        "real = session.driver_memory()\n"
        f"session.host_memory_bytes = lambda: {6 * GIB}\n"
        "s = session.get_spark('host-sized')\n"
        "conf = s.sparkContext.getConf()\n"
        "print(json.dumps({'mem': conf.get('spark.driver.memory'),\n"
        "  'opts': conf.get('spark.driver.extraJavaOptions'),\n"
        "  'max_heap': s._jvm.java.lang.Runtime.getRuntime().maxMemory(),\n"
        "  'master': s.sparkContext.master,\n"
        "  'cpus': len(os.sched_getaffinity(0)),\n"
        "  'n': s.range(100).count(), 'real': real}))\n"
        "s.stop()\n"
    )
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS", "SPARK_MASTER")
    }
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    r = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["mem"] == "1536m"
    assert got["opts"].endswith(" -Xms1536m -XX:+AlwaysPreTouch")
    assert GIB < got["max_heap"] <= 1536 << 20
    assert got["master"] == f"local[{got['cpus']}]"
    assert got["n"] == 100
    # unpatched, the same process derives its heap from this host's memory
    real_mb = int(got["real"].removesuffix("m"))
    assert real_mb >= session.HEAP_FLOOR_MB and real_mb % 256 == 0
