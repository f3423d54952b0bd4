"""The engine process: the system under test, driven only through public
entry points. The harness starts it with one JSON argument and steers it
with one command per stdin line; it answers with ``EV <json>`` lines on
stdout (``_collect_produced`` adds its ``SB_PROFILE`` lines when that
profile is on).

Commands:

- ``start`` / ``stop``: the ``pgwire-raw`` → ``decode_raw_frames`` →
  ``CdcPipeline`` stream query (``to_kafka_wire_eos`` or
  ``to_kafka_wire``); a restart resumes from its checkpoint;
- ``progress``: the running query's per-trigger progress;
- ``backfill <table> <topic> [<snapshot>]``: ``parallel_snapshot_over_wire``
  → ``run_batch`` → ``write_kafka_wire``;
- ``exit``."""

from __future__ import annotations

import json
import sys
import threading
import time


def emit(kind: str, **fields) -> None:
    print("EV " + json.dumps({"ev": kind, "t": time.time(), **fields}), flush=True)


class Engine:
    def __init__(self, cfg: dict, spark) -> None:
        from go_pq_cdc_kafka_spark.sources import raw as RAW
        from go_pq_cdc_kafka_spark.streaming.kafka import KafkaProducerConfig

        self.cfg, self.spark = cfg, spark
        RAW.register(spark)  # also ships the package to the workers
        eos = cfg["eos"]
        self.stream_cfg = KafkaProducerConfig(
            brokers=[cfg["bootstrap"]], idempotent=eos,
            transactional_id="bench-txn" if eos else None,
        )
        self.batch_cfg = KafkaProducerConfig(brokers=[cfg["bootstrap"]])
        self.query = None

    def start(self):
        from go_pq_cdc_kafka_spark.plans.routing import RoutingTable
        from go_pq_cdc_kafka_spark.sources import raw as RAW
        from go_pq_cdc_kafka_spark.streaming.pipeline import CdcPipeline

        cfg, src = self.cfg, self.cfg["source"]
        frames = (
            self.spark.readStream.format("pgwire-raw")
            .option("dsn", cfg["dsn"])
            .option("slot", cfg["slot"])
            .option("publication", cfg["publication"])
            .option("startlsn", str(cfg["start_lsn"]))
            .option("maxframesperbatch", str(src["maxframes"]))
            .option("pollms", str(src["pollms"]))
            .option("groups", str(src["groups"]))
            .load()
        )
        pipe = CdcPipeline(
            source=RAW.decode_raw_frames(
                frames, groups=src["groups"], partitions=src["partitions"]),
            routing=RoutingTable({f"public.{cfg['table']}": cfg["topic"]}),
            pk_field="id",
        )
        trigger = {"processingTime": "0 seconds"}
        if cfg["eos"]:
            self.query = pipe.to_kafka_wire_eos(
                self.stream_cfg, cfg["checkpoint"], group="bench-eos", trigger=trigger)
        else:
            self.query = pipe.to_kafka_wire(self.stream_cfg, cfg["checkpoint"], trigger=trigger)

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress]

    def backfill(self, table: str, topic: str, snapshot_name: str | None) -> int:
        from go_pq_cdc_kafka_spark.plans.routing import RoutingTable
        from go_pq_cdc_kafka_spark.sources import snapshot as SN
        from go_pq_cdc_kafka_spark.streaming.pipeline import CdcPipeline, write_kafka_wire

        df = SN.parallel_snapshot_over_wire(
            self.spark, self.cfg["dsn"], table, pk="id", n_chunks=self.cfg["chunks"],
            snapshot_name=snapshot_name,
        )
        pipe = CdcPipeline(
            source=df, routing=RoutingTable({f"public.{table}": topic}), pk_field="id")
        return write_kafka_wire(pipe.run_batch(), self.batch_cfg)

    def watch(self) -> None:
        """Report a failed stream query while the harness waits on the
        broker rather than on this process."""
        while True:
            q = self.query
            if q is not None and q.exception() is not None:
                emit("error", msg=str(q.exception())[:2000])
                return
            time.sleep(0.5)


def main() -> None:
    cfg = json.loads(sys.argv[1])
    sys.path.insert(0, cfg["root"])
    from go_pq_cdc_kafka_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{cfg['workload']}",
                      extra_conf=cfg.get("spark_conf") or None)
    emit("session", session_s=time.time() - t0)
    eng = Engine(cfg, spark)
    threading.Thread(target=eng.watch, daemon=True).start()
    try:
        for line in sys.stdin:
            cmd = line.split()
            if cmd == ["start"]:
                eng.start()
                emit("started")
            elif cmd == ["stop"]:
                progress = eng.progress()
                eng.query.stop()
                eng.query = None
                emit("stopped", progress=progress)
            elif cmd == ["progress"]:
                emit("progress", progress=eng.progress())
            elif cmd[:1] == ["backfill"]:
                t_start = time.time()
                n = eng.backfill(cmd[1], cmd[2], cmd[3] if len(cmd) > 3 else None)
                emit("backfill_done", rows=n, t0=t_start)
            elif cmd == ["exit"]:
                break
    finally:
        if eng.query is not None:
            eng.query.stop()
        spark.stop()
    emit("exited")


if __name__ == "__main__":
    main()
