"""Per-builder fixed costs of the ``registry_batch`` keys, on a warm pass.

    python tools/registry_overheads.py SF_DIR [PASSES]

Builds each benchmark registry key's frame and counts it, PASSES times
(default 2) in one configured session, and prints for the last pass
one row per key: build ms, ``.count()`` ms, py4j round trips on each
side and codegen compiles. The first pass pays the cold costs (JVM
warm-up, schema inference); a key that still compiles on the last
pass does not fit the codegen cache or varies its generated code.
Run it from two checkouts to compare them.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(sf_dir: str, passes: int) -> None:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from gen import REGISTRY_KEYS
    from py4j.clientserver import ClientServerConnection

    from quack_reduce_spark.inventory import all_queries
    from quack_reduce_spark.session import get_spark

    spark = get_spark("registry-overheads")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    sent = [0]
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        sent[0] += 1
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counted
    builders = all_queries()
    rows = []
    try:
        for _ in range(passes):
            rows = []
            for k in REGISTRY_KEYS:
                c0, r0, t0 = compiles.getCount(), sent[0], time.perf_counter()
                df = builders[k](spark, sf_dir)
                r1, t1 = sent[0], time.perf_counter()
                df.count()
                r2, t2 = sent[0], time.perf_counter()
                rows.append((k, (t1 - t0) * 1e3, (t2 - t1) * 1e3, r1 - r0, r2 - r1,
                             compiles.getCount() - c0))
    finally:
        ClientServerConnection.send_command = send
        spark.stop()
    head = ("key", "build_ms", "count_ms", "build_rt", "count_rt", "compiles")
    print("| " + " | ".join(head) + " |")
    print("|" + "---|" * len(head))
    for k, b, c, rb, rc, n in rows:
        print(f"| {k} | {b:.0f} | {c:.0f} | {rb} | {rc} | {n} |")
    tot = [sum(r[i] for r in rows) for i in range(1, 6)]
    print(f"| total | {tot[0]:.0f} | {tot[1]:.0f} | {tot[2]} | {tot[3]} | {tot[4]} |")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 2)
