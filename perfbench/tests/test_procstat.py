"""Process-tree CPU: live children and reaped grandchildren both count."""

import subprocess
import sys
import time

import procstat

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_live_child_counts():
    before = procstat.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN.format(s=0.6) + "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while procstat.tree_cpu_s() - before < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert procstat.tree_cpu_s() - before >= 0.5
        assert child.pid in procstat.tree_pids()
    finally:
        child.kill()
        child.wait(timeout=10)


def test_reaped_grandchild_counts():
    # the child starts a worker, waits for it and then idles: the worker's
    # CPU lives on only in the child's cutime
    code = (
        "import subprocess, sys, time\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.6)!r}], check=True)\n"
        "print('done', flush=True)\n"
        "time.sleep(30)\n"
    )
    before = procstat.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert len(procstat.tree_pids()) >= 2
        assert procstat.tree_cpu_s() - before >= 0.5
    finally:
        child.kill()
        child.wait(timeout=10)


def test_ended_process_is_not_alive():
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait(timeout=10)
    assert not procstat.alive(child.pid)
    assert procstat.alive(procstat.tree_pids()[0])
    assert procstat.tree_rss_mb() > 0
