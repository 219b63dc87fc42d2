"""The Redis stand-in: a ``MiniRedisServer`` in a process of its own.

Prints ``port <n>`` once it listens, then serves until stdin closes or
says ``quit``. Other stdin commands, each answered with one stdout line:

- ``stats``: JSON counters since start: ``connections``, ``commands``,
  ``bytes_in`` (RESP bytes of the applied commands), ``busy_s`` (time
  spent applying commands under the server lock) and ``cpu_s`` (this
  process's CPU time);
- ``dump <path>``: write the whole keyspace as JSON, answer ``ok``.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bootic_stats_aggregates_spark.sinks.resp import MiniRedisServer  # noqa: E402


def _resp_len(parts: list[bytes]) -> int:
    """Bytes of ``parts`` framed as a RESP array of bulk strings."""
    n = len(b"*%d\r\n" % len(parts))
    for p in parts:
        n += len(b"$%d\r\n" % len(p)) + len(p) + 2
    return n


def main() -> None:
    srv = MiniRedisServer()
    stats = {"connections": 0, "commands": 0, "bytes_in": 0, "busy_s": 0.0}
    apply = srv.apply

    def counted_apply(parts):
        t0 = time.perf_counter()
        try:
            return apply(parts)
        finally:
            stats["busy_s"] += time.perf_counter() - t0
            stats["commands"] += 1
            stats["bytes_in"] += _resp_len(parts)

    srv.apply = counted_apply
    tcp = srv._tcp  # count accepted connections at the socketserver
    process_request = tcp.process_request

    def counted_process_request(request, client_address):
        stats["connections"] += 1
        return process_request(request, client_address)

    tcp.process_request = counted_process_request
    print(f"port {srv.port}", flush=True)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd or cmd[0] == "quit":
            break
        if cmd[0] == "stats":
            ru = resource.getrusage(resource.RUSAGE_SELF)
            with srv.lock:
                out = dict(stats, cpu_s=ru.ru_utime + ru.ru_stime)
            print(json.dumps(out), flush=True)
        elif cmd[0] == "dump":
            with srv.lock:
                state = {
                    "hashes": {
                        k: {f.decode(): (v.decode() if isinstance(v, bytes) else v)
                            for f, v in h.items()}
                        for k, h in srv.hashes.items() if h
                    },
                    "zsets": {
                        k: {m.decode(): s for m, s in z.items()}
                        for k, z in srv.zsets.items() if z
                    },
                    "sets": {k: sorted(m.decode() for m in s)
                             for k, s in srv.sets.items() if s},
                    "kv": {k: v.decode() for k, v in srv.kv.items()},
                }
            with open(cmd[1], "w") as fh:
                json.dump(state, fh)
            print("ok", flush=True)
    srv.close()


if __name__ == "__main__":
    main()
