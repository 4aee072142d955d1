"""Process-tree CPU and memory accounting."""

from __future__ import annotations

import subprocess
import sys

from perfbench import proctree


def test_tree_covers_children_and_counts_their_cpu():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    before = proctree.cpu_seconds()
    child = subprocess.Popen([sys.executable, "-c", busy + "\nimport time; time.sleep(5)"])
    try:
        for _ in range(100):
            if child.pid in proctree.tree_pids() and proctree.cpu_seconds() - before >= 0.25:
                break
            subprocess.run(["sleep", "0.05"])
        assert child.pid in proctree.tree_pids()
        assert proctree.cpu_seconds() - before >= 0.25
        assert proctree.rss_mb() > 0
        assert proctree.steal_seconds() >= 0
    finally:
        child.kill()
        child.wait()


def test_resident_pages_skips_a_child_sharing_its_parents_address_space():
    jvm = ["900", "500", "20"]
    tree = {
        10: (1, ["100", "40", "5"]),     # the benchmark
        11: (10, jvm),                   # the JVM
        12: (11, list(jvm)),             # spawned by the JVM, not yet exec'd
        13: (11, ["80", "30", "10"]),    # a Python worker
        14: (11, None),                  # exited while sampled
    }
    assert proctree.resident_pages(tree) == 40 + 500 + 30
