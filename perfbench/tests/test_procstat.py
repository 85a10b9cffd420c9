"""The /proc walker must count a worker that exits between two readings.

The tree mirrors local-mode Spark: a root process (standing in for the
JVM) starts a long-lived Python daemon, which forks a worker that burns
CPU and exits. Once the daemon reaps it, the worker's CPU is only
visible in the daemon's cutime/cstime.
"""

import os
import subprocess
import sys
import textwrap
import time

from procstat import ProcessTree, descendants, jit_threads

DAEMON = textwrap.dedent(
    """
    import os, sys, time
    go, reaped = sys.argv[1], sys.argv[2]
    while not os.path.exists(go):
        time.sleep(0.01)
    pid = os.fork()
    if pid == 0:
        end = time.process_time() + 0.5
        while time.process_time() < end:
            pass
        os._exit(0)
    os.waitpid(pid, 0)
    open(reaped, "w").close()
    time.sleep(60)
    """
)


def _wait_for(cond, timeout=20.0):
    deadline = time.monotonic() + timeout
    while not cond():
        assert time.monotonic() < deadline, "timed out"
        time.sleep(0.01)


def test_exited_worker_is_counted(tmp_path):
    go, reaped = tmp_path / "go", tmp_path / "reaped"
    root = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import subprocess, sys; subprocess.run([sys.executable, '-c', sys.argv[1], sys.argv[2], sys.argv[3]])",
            DAEMON,
            str(go),
            str(reaped),
        ]
    )
    try:
        _wait_for(lambda: len(descendants(root.pid)) == 1)
        tree = ProcessTree(root.pid)
        before = tree.cpu()
        go.touch()
        _wait_for(reaped.exists)
        after = tree.cpu()
        assert descendants(root.pid), "the daemon is still alive"
        assert after.python_workers - before.python_workers >= 0.4
    finally:
        for pid in descendants(root.pid):
            os.kill(pid, 9)
        root.kill()
        root.wait(timeout=10)
    assert root.poll() is not None


COMPILER = textwrap.dedent(
    """
    import os, sys, threading, time
    def compile_():
        with open(f"/proc/self/task/{threading.get_native_id()}/comm", "w") as f:
            f.write("C1 CompilerThre")
        end = time.thread_time() + 0.3
        while time.thread_time() < end:
            pass
        open(sys.argv[1], "w").close()
        while not os.path.exists(sys.argv[2]):
            time.sleep(0.01)
    t = threading.Thread(target=compile_)
    t.start()
    end = time.thread_time() + 0.3  # the main thread's CPU is not the JIT's
    while time.thread_time() < end:
        pass
    t.join()
    open(sys.argv[3], "w").close()
    time.sleep(60)
    """
)


def test_jit_cpu_counts_compiler_threads_that_ended(tmp_path):
    compiled, stop, ended = tmp_path / "compiled", tmp_path / "stop", tmp_path / "ended"
    proc = subprocess.Popen([sys.executable, "-c", COMPILER, str(compiled), str(stop), str(ended)])
    try:
        tree = ProcessTree(proc.pid)
        _wait_for(compiled.exists)
        assert 0.25 <= sum(jit_threads(proc.pid).values()) < 0.5
        during = tree.cpu().jit
        stop.touch()
        _wait_for(ended.exists)
        assert jit_threads(proc.pid) == {}
        assert tree.cpu().jit == during
    finally:
        proc.kill()
        proc.wait(timeout=10)
