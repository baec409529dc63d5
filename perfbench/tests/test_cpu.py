import subprocess
import sys

import run

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_live_and_exited_descendants():
    """A process tree's CPU time includes a grandchild that has already
    exited (reaped by its parent) and one that is still running."""
    script = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.4)!r}], check=True)\n"
        f"exec({BURN.format(s=0.4)!r})\n"
        "sys.stdout.write('done\\n'); sys.stdout.flush(); sys.stdin.read()\n"
    )
    proc = subprocess.Popen([sys.executable, "-c", script],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert proc.stdout.readline() == "done\n"
        assert run.tree_cpu_s(proc.pid) >= 0.75
    finally:
        proc.stdin.close()
        proc.wait()


def test_tree_cpu_leaves_out_processes_outside_the_tree():
    proc = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                            stdin=subprocess.PIPE)
    try:
        before = run.tree_cpu_s(proc.pid)
        subprocess.run([sys.executable, "-c", BURN.format(s=0.3)], check=True)
        assert run.tree_cpu_s(proc.pid) - before < 0.1
    finally:
        proc.stdin.close()
        proc.wait()
