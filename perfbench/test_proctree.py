"""The process-tree sampler counts CPU of children that exit mid-sample.

Run: python3 -m pytest perfbench/test_proctree.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from proctree import TreeSampler, tree_cpu_s  # noqa: E402

BURN = 0.6  # CPU seconds the child spends


def _burn_child(seconds: float) -> subprocess.Popen:
    code = (
        "import time\n"
        f"end = time.process_time() + {seconds}\n"
        "while time.process_time() < end: pass\n"
    )
    return subprocess.Popen([sys.executable, "-c", code])


def test_reaped_child_cpu_is_counted():
    s = TreeSampler(interval=0.05).start()
    child = _burn_child(BURN)
    assert child.wait(timeout=30) == 0  # the child exits (and is reaped) before stop
    time.sleep(0.1)
    s.stop()
    # the child's BURN seconds plus interpreter start-up; the sampler's own
    # thread adds a little on top
    assert BURN <= s.cpu_s < BURN + 1.0, s.cpu_s
    assert s.rss_peak_mb > 0


def test_grandchild_cpu_is_counted():
    # a shell that runs the burner: the burner is our grandchild
    code = (
        "import subprocess, sys\n"
        "p = subprocess.Popen([sys.executable, '-c', "
        f"'import time\\nend = time.process_time() + {BURN}\\n"
        "while time.process_time() < end: pass\\n'])\n"
        "sys.exit(p.wait())\n"
    )
    before = tree_cpu_s(os.getpid())
    assert subprocess.run([sys.executable, "-c", code], timeout=30).returncode == 0
    used = tree_cpu_s(os.getpid()) - before
    assert BURN <= used < BURN + 1.5, used
