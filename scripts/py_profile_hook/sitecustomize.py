"""cProfile every PySpark Python worker task (``scripts/profile_advance.py
--py-profile``).

A Python process that starts with this directory on ``PYTHONPATH`` and
``PROFILE_ADVANCE_OUT`` set wraps ``pyspark.worker.main`` (what the
worker daemon runs per task) and dumps one profile per task into that
directory. Without ``PROFILE_ADVANCE_OUT`` it does nothing.
"""

import os

_OUT = os.environ.get("PROFILE_ADVANCE_OUT")

if _OUT:
    import cProfile
    import itertools

    import pyspark.worker as _worker

    _main = _worker.main
    _tasks = itertools.count()

    def main(infile, outfile):
        prof = cProfile.Profile()
        prof.enable()
        try:
            return _main(infile, outfile)
        finally:
            prof.disable()
            # write-then-rename: a worker killed mid-dump leaves no
            # truncated profile for the reader
            path = os.path.join(_OUT, f"task-{os.getpid()}-{next(_tasks)}.prof")
            prof.dump_stats(path + ".tmp")
            os.replace(path + ".tmp", path)

    _worker.main = main
