"""Spark's Python worker daemon (``pyspark.daemon``), except that it reaps
its exited workers with ``waitpid`` instead of having the kernel discard
them.  The CPU time of a reaped worker is added to the daemon's, so the
benchmark's CPU meter (``harness.cpu_s``) keeps the time of workers that
have exited.  Spark starts it through ``spark.python.daemon.module``."""

import os
import signal

from pyspark import daemon

_install = signal.signal


def _reap(signum, frame):
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def _signal(signum, handler):
    if signum == signal.SIGCHLD and handler == signal.SIG_IGN:
        handler = _reap
    return _install(signum, handler)


if __name__ == "__main__":
    signal.signal = _signal
    daemon.manager()
