"""Open-loop MQTT load generator for the ``ingest_live`` workload.

Runs as its own process, separate from the pump under test.  It hosts
``sources.minimqtt.MiniBroker`` on a free loopback port and uses two
client connections: one publisher (a single thread) and one subscriber to
the pump's monitor topic.

Protocol with the parent (one JSON object per stdout line):

1. ``{"port": P}`` once the broker listens.
2. It waits until the pump's persistent session subscribes to the data
   topic.  The monitor subscriber cannot satisfy that wait: it subscribes
   to the monitor namespace, which no data topic matches.
3. Warm-up: ``WARMUP`` messages go out at once, so the pump's cold first
   micro-batch carries a full batch.
4. The measured schedule starts when the pump's next reader connects, once
   the reader of the cold first batch has left: every run starts at the
   same point of the pump's poll cycle.  It sends ``rate`` messages per
   second for ``seconds`` seconds, each at its scheduled time or, when the
   generator runs late, as soon as it can.  Lateness is recorded, never
   skipped.
5. The parent writes the number of batches the pump ran.  Once that many
   monitor messages have arrived (or 10 s have passed), it prints the
   summary ``{"published": ..., "monitor": [...], ...}`` and exits.

Each record of a payload carries ``seq`` (the message number) and
``sent_us`` (its scheduled send time, microseconds since the epoch), so
the checker can rebuild every expected row from ``(seed, seq)`` alone.
"""

from __future__ import annotations

import argparse
import json
import random
import sys
import time

from mqtt_message_pump_spark.sources.minimqtt import MiniBroker, MiniMqttClient

# one full row budget of the pump's reader: the cold first micro-batch
# then ends its poll window at once and warms the data path at full size
WARMUP = 10_000
WAIT_TIMEOUT = 60.0
DATA_TOPIC_ROOT = "bench/pump"
DATA_TOPIC = f"{DATA_TOPIC_ROOT}/1"
MONITOR_FILTER = "pump-monitor/#"
KEYS = ("ut", "temp", "hum", "volt")


def message_records(seed: int, seq: int, sent_us: int) -> dict:
    """The payload of message ``seq``: a map of record id -> record, the
    reference's multi-record wire shape.  Deterministic in (seed, seq)."""
    rng = random.Random(seed * 1_000_003 + seq)
    n = rng.randint(1, 3)
    return {
        str(i + 1): {
            "command": "property.publish",
            "params": {
                "thingKey": f"{rng.getrandbits(64):016X}",
                "ts": "2020-01-05T20:31:00Z",
                "key": rng.choice(KEYS),
                "value": rng.randint(0, 99_999) / 10.0 + 0.5,
                "seq": seq,
                "sent_us": sent_us,
            },
        }
        for i in range(n)
    }


def json_sample() -> str:
    """An ``[adapter] jsonsample`` with the generated records' shape."""
    return json.dumps(message_records(0, 0, 1_600_000_000_000_000))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    broker = MiniBroker()
    monitor: list[tuple[float, str]] = []

    def on_monitor(_client, _userdata, msg) -> None:
        monitor.append((time.time(), msg.payload.decode("utf-8", "replace")))

    mon = MiniMqttClient("127.0.0.1", broker.port, client_id="bench-monitor")
    mon.on_message = on_monitor
    mon.subscribe(MONITOR_FILTER, qos=0)
    pub = MiniMqttClient("127.0.0.1", broker.port, client_id="bench-gen")
    print(json.dumps({"port": broker.port}), flush=True)

    summary: dict = {"published": 0, "error": None}
    late_max = 0.0
    seq = 0
    try:
        if not broker.wait_for_subscription(DATA_TOPIC, WAIT_TIMEOUT):
            raise TimeoutError("the pump never subscribed to the data topic")
        summary["subscribed_at"] = time.time()
        for _ in range(WARMUP):
            now_us = int(time.time() * 1e6)
            payload = json.dumps(message_records(args.seed, seq, now_us))
            pub.publish(DATA_TOPIC, payload.encode(), qos=1)
            seq += 1
        # the pump opens one reader connection per micro-batch; its
        # persistent session restores the subscription on connect
        deadline = time.time() + WAIT_TIMEOUT
        while broker.wait_for_subscription(DATA_TOPIC, 0.01):
            if time.time() > deadline:
                raise TimeoutError("the first batch's reader never left")
            time.sleep(0.05)  # leave the broker's lock to its routing threads
        if not broker.wait_for_subscription(DATA_TOPIC, WAIT_TIMEOUT):
            raise TimeoutError("no reader for the batch after the first")
        start = time.time()
        summary["load_start"] = start
        count = int(args.rate * args.seconds)
        for i in range(count):
            due = start + i / args.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            else:
                late_max = max(late_max, -delay)
            payload = json.dumps(
                message_records(args.seed, seq, int(due * 1e6))
            )
            pub.publish(DATA_TOPIC, payload.encode(), qos=1)
            seq += 1
        summary["load_end"] = time.time()
        if not pub.wait_for_acks(30.0):
            raise TimeoutError("the broker did not acknowledge every publish")
    except Exception as e:  # noqa: BLE001 - reported to the parent
        summary["error"] = f"{type(e).__name__}: {e}"
    summary["published"] = seq
    summary["late_max_s"] = late_max
    batches = int(sys.stdin.readline() or 0)
    deadline = time.time() + 10.0
    while len(monitor) < batches and time.time() < deadline:
        time.sleep(0.05)
    summary["monitor"] = list(monitor)
    print(json.dumps(summary), flush=True)
    for client in (pub, mon):
        try:
            client.disconnect()
        except OSError:
            pass
    broker.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
