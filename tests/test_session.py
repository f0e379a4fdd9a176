"""get_spark sizes its session to the host when neither
SPARK_GRAFT_CPUS nor SPARK_GRAFT_DRIVER_MEM is set: one thread per
core this process may run on, and half the physical memory as heap,
at most 16g."""

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).parents[1]


def test_session_defaults_follow_host(tmp_path):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")
    }
    env.update(TMPDIR=str(tmp_path), PYTHONPATH=str(ROOT))
    code = (
        "from koalas_spark import get_spark\n"
        "s = get_spark('session_defaults')\n"
        "print(s.sparkContext.master, s.conf.get('spark.driver.memory'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    cpus = len(os.sched_getaffinity(0))
    assert out[-2:] == [f"local[{cpus}]", f"{max(1, min(16, ram_gb // 2))}g"]
