"""py4j ledger of one perfbench workload: where a warm cycle's driver
time goes, per operation.

    python tools/py4j_ledger.py --workload binning_fit [--seed 0] [--cycles 3]

It builds the workload of ``perfbench/workloads.py`` (imported as is,
never edited) on a ``get_spark`` session of the checkout it lives in,
runs the set-up fit and warm-up cycles, then times ``--cycles`` warm
cycles with py4j's ``send_command`` wrapped at runtime. Per operation
it prints the median over those cycles of:

- wall time, a ``gc.collect()`` after the operation included;
- py4j commands sent, not counting releases (the count that
  ``tests/test_py4j_budget.py`` pins);
- releases: the commands that release the JVM object a freed Python
  proxy held, one per object. Their timing is set by when Python frees
  the proxies; the ``gc.collect()`` charges an operation's own garbage
  to it instead of to whichever operation the collector next runs in;
- the time spent inside all those commands (an action blocks inside
  py4j, so this includes the Spark jobs' busy time);
- Spark jobs started (``statusTracker`` of a per-operation job group);
- the ``optbinning_spark`` call sites that sent the most commands (the
  innermost library frame on the stack of each command), summed over
  the timed cycles. A command sent with no library frame on the stack
  (mostly the releases of proxies freed as an operation returns) is
  listed as "(outside optbinning_spark)".

The wrapper walks the Python stack once per command, which adds a few
microseconds to each; the wall column includes that. Spark's and
Python's scratch files go to a temporary directory removed at exit.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import gc
import os
import shutil
import statistics
import sys
import tempfile
import time

from py4j.protocol import MEMORY_COMMAND_NAME

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "optbinning_spark") + os.sep
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


class Ledger:
    """Counts and times py4j commands while ``active``, keyed by call site."""

    def __init__(self):
        self.active = False
        self.commands = self.releases = 0
        self.seconds = 0.0
        self.sites: collections.Counter = collections.Counter()

    def reset(self):
        self.commands, self.releases, self.seconds = 0, 0, 0.0

    def install(self):
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            cls.send_command = self._wrap(cls.send_command)

    def _wrap(self, send):
        ledger = self

        def send_command(conn, command, *args, **kwargs):
            if not ledger.active:
                return send(conn, command, *args, **kwargs)
            ledger.sites[_call_site()] += 1
            if command.startswith(MEMORY_COMMAND_NAME):
                ledger.releases += 1
            else:
                ledger.commands += 1
            t = time.perf_counter()
            try:
                return send(conn, command, *args, **kwargs)
            finally:
                ledger.seconds += time.perf_counter() - t

        return send_command


def _call_site() -> str:
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_filename.startswith(PKG):
            mod = f.f_code.co_filename[len(PKG):-3].replace(os.sep, ".")
            return f"{mod}:{f.f_code.co_name}:{f.f_lineno}"
        f = f.f_back
    return "(outside optbinning_spark)"


def _null_span(name):
    return contextlib.nullcontext()


def run(args) -> list[str]:
    from optbinning_spark import get_spark
    from workloads import WORKLOADS

    spark = get_spark("py4j_ledger", cpus=min(4, os.cpu_count() or 1))
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload](spark, args.seed)
        inputs = os.path.join(os.environ["TMPDIR"], "inputs")
        os.makedirs(inputs)
        wl.prepare(inputs)
        wl.fit_model()
        for _ in range(wl.warmup_cycles):
            wl.call(wl.ops, _null_span)

        gc.collect()
        ledger = Ledger()
        ledger.install()
        per_op = {op: collections.defaultdict(list) for op in wl.ops}
        op_sites = {op: collections.Counter() for op in wl.ops}
        for cycle in range(args.cycles):
            for op in wl.ops:
                group = f"py4j-ledger-{cycle}-{op}"
                sc.setJobGroup(group, "py4j ledger")
                ledger.reset()
                ledger.sites = op_sites[op]
                ledger.active = True
                t = time.perf_counter()
                _, bad = wl.run_op(op, _null_span)
                # the op's own garbage: py4j sends one command per
                # JVM object a freed Python proxy held
                gc.collect()
                wall = time.perf_counter() - t
                ledger.active = False
                if bad:
                    raise RuntimeError(f"{op}: {bad}")
                row = per_op[op]
                row["wall"].append(wall)
                row["commands"].append(ledger.commands)
                row["releases"].append(ledger.releases)
                row["py4j_s"].append(ledger.seconds)
                row["jobs"].append(
                    len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        spark.stop()

    med = statistics.median
    lines = [f"workload {args.workload} seed {args.seed} "
             f"{args.cycles} warm cycle(s), medians per operation and per cycle",
             f"{'op':<24}{'wall s':>9}{'py4j cmds':>11}{'releases':>10}"
             f"{'in py4j s':>11}{'jobs':>6}"]
    rows = {op: {k: med(v) for k, v in per_op[op].items()} for op in wl.ops}
    # the cycle row is the median of the per-cycle totals
    rows["cycle"] = {k: med(sum(per_op[op][k][c] for op in wl.ops)
                            for c in range(args.cycles))
                     for k in per_op[wl.ops[0]]}
    for op, row in rows.items():
        lines.append(f"{op:<24}{row['wall']:>9.3f}{row['commands']:>11.0f}"
                     f"{row['releases']:>10.0f}"
                     f"{row['py4j_s']:>11.3f}{row['jobs']:>6.0f}")
    lines.append(f"top {args.top} call sites per operation "
                 f"(commands over {args.cycles} cycle(s)):")
    for op in wl.ops:
        lines.append(f"  {op}")
        for site, n in op_sites[op].most_common(args.top):
            lines.append(f"    {n:>7}  {site}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="binning_fit",
                    choices=["binning_fit", "score_dedup"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--cycles", type=int, default=3)
    ap.add_argument("--top", type=int, default=5)
    args = ap.parse_args(argv)

    tmp = tempfile.mkdtemp(prefix="py4j_ledger_")
    # Spark's Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    try:
        lines = run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
