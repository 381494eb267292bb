"""Prototype A/B: transformWithStateInPandas vs applyInPandasWithState
for the bucketed stateful sessionizer (VERDICT r13 next#6).

Times the EXACT stream_sessionize_stateful drain shape at a given sf
(4 time-ordered event chunks, one file per micro-batch, gap-close-only
emission) twice in one session:

  A. current production path: sessionize_stateful(bucket_users=4*nparts)
     via applyInPandasWithState (array-state value per bucket group);
  B. prototype: the same bucketed state machine as a
     transformWithStateInPandas StatefulProcessor (RocksDB state store,
     per-bucket value state of the same array schema).

Checks the emitted row MULTISETS are equal (the oracle's currency)
and exits 1 before any timing when they differ; otherwise prints
best-of-N walls for both. Adoption gate per VERDICT r13: B
must beat A's 4-batch drain by >20% with identical output; otherwise
the applyInPandasWithState floor is documented in SCALE.md and the
item closes.

Usage: python tools/proto_tws_sessionize.py [sf_dir] [-nN]
"""

from __future__ import annotations

import os
import sys
import time
import uuid
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GAP_US = 1800 * 1_000_000

BUCKET_STATE_SCHEMA = (
    "users array<long>, last array<long>, n array<long>, start array<long>"
)


def _make_tws_sessionized(events, buckets: int):
    """The bucketed gap-close-only sessionizer as a
    transformWithStateInPandas plan (micros fidelity, NoTime mode)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from polars_readstat_spark.streaming.events import advance_session_state

    class BucketSessionizer(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("sess", BUCKET_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            frames = [pdf[["user_id", "ts_us"]] for pdf in rows]
            df = pd.concat(frames)
            df = pd.DataFrame(
                {
                    "user_id": df["user_id"].astype("int64"),
                    "t": df["ts_us"].astype("int64"),
                }
            ).sort_values(["user_id", "t"])
            if self._st.exists():
                users, last, n, start = self._st.get()
                st = {
                    u: (l, c, s)
                    for u, l, c, s in zip(users, last, n, start)
                }
            else:
                st = {}
            out = []
            for uid, g in df.groupby("user_id", sort=False):
                uid = int(uid)
                closed, new_state = advance_session_state(
                    g["t"].tolist(), st.get(uid), GAP_US
                )
                st[uid] = new_state
                out.extend((uid, s, k) for s, k in closed)
            us = sorted(st)
            self._st.update(
                (
                    us,
                    [st[u][0] for u in us],
                    [st[u][1] for u in us],
                    [st[u][2] for u in us],
                )
            )
            if out:
                yield pd.DataFrame(
                    out, columns=["user_id", "session_start_us", "n_events"]
                )

        def close(self) -> None:
            pass

    return (
        events.withColumn("ts_us", F.unix_micros("ts"))
        .withWatermark("ts", "2 hours")
        .withColumn("bucket", F.pmod(F.col("user_id"), F.lit(int(buckets))))
        .groupBy("bucket")
        .transformWithStateInPandas(
            BucketSessionizer(),
            outputStructType="user_id long, session_start_us long, n_events long",
            outputMode="append",
            timeMode="None",
        )
    )


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0].startswith("-n"):
        n = int(args[0][2:])
        args = args[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    from polars_readstat_spark.queries.timeseries import _ensure_events_chunks
    from polars_readstat_spark.session import get_spark
    from polars_readstat_spark.streaming.events import (
        approx_rows_in_dir,
        drain_collect,
        sessionize_stateful,
        state_partitions_for,
        stream_events_dir,
    )

    spark = get_spark("proto-tws")
    d = _ensure_events_chunks(sf_dir)
    nparts = state_partitions_for(
        spark, approx_rows_in_dir(d), python_groups=True
    )
    buckets = 4 * nparts
    print(f"sf_dir={sf_dir} nparts={nparts} buckets={buckets}")

    def run_a():
        ev = stream_events_dir(spark, d, max_files_per_trigger=1)
        sess = sessionize_stateful(
            ev,
            gap_seconds=1800,
            micros=True,
            timeout_close=False,
            bucket_users=buckets,
        )
        return drain_collect(
            sess, f"proto_a_{uuid.uuid4().hex[:8]}", state_partitions=nparts
        )

    def run_b():
        key = "spark.sql.streaming.stateStore.providerClass"
        prior = spark.conf.get(key, None)
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        )
        try:
            ev = stream_events_dir(spark, d, max_files_per_trigger=1)
            sess = _make_tws_sessionized(ev, buckets)
            return drain_collect(
                sess,
                f"proto_b_{uuid.uuid4().hex[:8]}",
                state_partitions=nparts,
            )
        finally:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)

    # equality first (the gate's precondition), then walls
    rows_a = Counter(tuple(r) for r in run_a().collect())
    rows_b = Counter(tuple(r) for r in run_b().collect())
    equal = rows_a == rows_b
    print(
        f"rows A={rows_a.total()} B={rows_b.total()} equal={equal}"
    )
    if not equal:
        # Counter subtraction keeps multiplicity: a row emitted twice
        # by A and once by B shows up in only_a
        only_a = rows_a - rows_b
        only_b = rows_b - rows_a
        print(f"  only_a sample: {sorted(only_a.items())[:5]}")
        print(f"  only_b sample: {sorted(only_b.items())[:5]}")
        spark.stop()
        sys.exit(1)

    for tag, fn in (("A_applyInPandasWithState", run_a),
                    ("B_transformWithState", run_b)):
        trials = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            trials.append(round(time.perf_counter() - t0, 3))
        print(f"{tag}: best={min(trials):.3f} trials={trials}")
    spark.stop()


if __name__ == "__main__":
    main()
