"""Open-loop load generator, run as its own process.

Reads a plan (JSON) naming the target, a start instant on the system-wide
monotonic clock, and the operations with their due offsets; sends each
operation when it is due from at most ``threads`` worker threads (one HTTP
connection each), and writes one record per operation: due, sent and done
instants, HTTP status and the response body.  Latency is taken from the
due instant, so a stall (in the system or here) is charged to every
operation it delays; ``sent - due`` shows how late the generator itself ran.

Kept separate from the Spark driver so generator stalls and driver GIL
stalls do not mix.  Usage: ``python3 loadgen.py PLAN.json OUT.json``.
"""

from __future__ import annotations

import http.client
import json
import queue
import sys
import threading
import time

MAX_THREADS = 4


def _send(conn_box: list, host: str, port: int, op: dict) -> tuple[int, bytes]:
    """``POST /ask`` with one request; returns (status, body)."""
    body = json.dumps({"request": op["request"], "args": op["args"]}).encode()
    path = "/ask"
    headers = {"Content-Type": "application/json", "Content-Length": str(len(body))}
    for attempt in (0, 1):  # one reconnect if the server closed an idle socket
        if conn_box[0] is None:
            conn_box[0] = http.client.HTTPConnection(host, port, timeout=60)
        try:
            conn_box[0].request("POST", path, body=body, headers=headers)
            resp = conn_box[0].getresponse()
            data = resp.read()
            if resp.getheader("Connection", "").lower() == "close" or resp.version < 11:
                conn_box[0].close()
                conn_box[0] = None
            return resp.status, data
        except (ConnectionError, http.client.HTTPException):
            conn_box[0].close()
            conn_box[0] = None
            if attempt:
                raise
    raise AssertionError("unreachable")


def run(plan: dict) -> list[dict]:
    host, port = plan["host"], int(plan["port"])
    t0 = float(plan["t0"])
    ops = sorted(plan["ops"], key=lambda o: o["due"])
    threads = min(MAX_THREADS, int(plan.get("threads", MAX_THREADS)))
    todo: queue.Queue = queue.Queue()
    out: list[dict] = []
    lock = threading.Lock()

    def worker() -> None:
        box: list = [None]
        while True:
            op = todo.get()
            if op is None:
                break
            due = t0 + op["due"]
            sent = time.monotonic()
            try:
                status, data = _send(box, host, port, op)
                err = None
            except OSError as e:  # refused, reset or timed out: a failure
                status, data, err = 0, b"", f"{type(e).__name__}: {e}"
            done = time.monotonic()
            rec = {"id": op["id"], "due": due, "sent": sent, "done": done,
                   "status": status, "error": err,
                   "body": data.decode("utf-8", "replace")}
            with lock:
                out.append(rec)
        if box[0] is not None:
            box[0].close()

    pool = [threading.Thread(target=worker, daemon=True) for _ in range(threads)]
    for t in pool:
        t.start()
    # dispatcher: release each op at its due instant, never waiting on replies
    for op in ops:
        delay = t0 + op["due"] - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        todo.put(op)
    for _ in pool:
        todo.put(None)
    for t in pool:
        t.join(timeout=120)
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[1], encoding="utf-8") as f:
        plan = json.load(f)
    records = run(plan)
    with open(argv[2], "w", encoding="utf-8") as f:
        json.dump(records, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
