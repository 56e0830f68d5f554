"""Statement generator and client for the ``pgwire_mixed`` workload.

Each client owns one table ``bench_c<i> (id INT, k VARCHAR, v INT)`` and
keeps a model of it.  ``Client.batch`` draws a seeded batch of statements
(80% reads, 20% writes); every read is checked against the model,
every aggregate over the TPC-H views against answers DuckDB computed at
set-up.  The wire client speaks the PostgreSQL simple-query protocol, the
subset ``risinglight_spark.server`` serves.
"""

from __future__ import annotations

import math
import random
import socket
import struct

INITIAL_ROWS = 64

# One batch: reads are point and range reads of the client's own table
# and small aggregates over the views; writes are INSERT plus UPDATE or
# DELETE, alternating.  Every batch has the same make-up (80% reads, 20%
# writes) in a seeded order, so runs differ in values, not in mix.
BATCH_READS = ("point",) * 3 + ("range",) * 3 + ("agg",) * 2
READS = ("point", "range", "agg")


def agg_queries(seed: int) -> list[str]:
    """The aggregate reads over the TPC-H views, parameterised by seed."""
    rng = random.Random(f"agg-{seed}")
    out = []
    for _ in range(4):
        y, m = rng.randint(1993, 1997), rng.randint(1, 12)
        out.append(
            "SELECT count(*) AS n, sum(o_totalprice) AS total FROM orders "
            f"WHERE o_orderdate >= DATE '{y}-{m:02d}-01' "
            f"AND o_orderdate < DATE '{y}-{m:02d}-01' + INTERVAL '1' MONTH"
        )
    for _ in range(2):
        seg = rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
        )
        out.append(
            "SELECT n_name, count(*) AS n FROM customer JOIN nation "
            f"ON c_nationkey = n_nationkey WHERE c_mktsegment = '{seg}' "
            "GROUP BY n_name ORDER BY n_name"
        )
    for _ in range(2):
        q = rng.randint(1, 50)
        out.append(
            "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty "
            f"FROM lineitem WHERE l_quantity = {q} "
            "GROUP BY l_returnflag ORDER BY l_returnflag"
        )
    return out


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Text rows from the wire against typed expected rows; numbers are
    compared numerically (relative tolerance 1e-9: both sides sum doubles
    in different orders)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if a is None or b is None:
                if a is not None or b is not None:
                    return False
            elif isinstance(b, (int, float)) and not isinstance(b, bool):
                try:
                    if not math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6):
                        return False
                except ValueError:
                    return False
            elif a != str(b):
                return False
    return True


class PgError(Exception):
    pass


class Wire:
    """Minimal simple-query client: ``query(sql) -> (rows, bytes_in)``."""

    def __init__(self, port: int, timeout: float = 120.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.buf = b""
        params = b"user\x00bench\x00database\x00postgres\x00\x00"
        payload = struct.pack("!I", 196608) + params
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        self._until_ready()

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack("!I", 4))
        except OSError:
            pass
        self.sock.close()

    def _read(self, n: int) -> bytes:
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise EOFError("server closed the connection")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def _until_ready(self) -> tuple[list[tuple], str | None, int]:
        rows: list[tuple] = []
        err = None
        nbytes = 0
        while True:
            tag = self._read(1)
            (length,) = struct.unpack("!I", self._read(4))
            body = self._read(length - 4)
            nbytes += length + 1
            if tag == b"D":
                (n,) = struct.unpack("!H", body[:2])
                pos, row = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", body[pos : pos + 4])
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(body[pos : pos + ln].decode())
                        pos += ln
                rows.append(tuple(row))
            elif tag == b"E":
                fields = body.split(b"\x00")
                err = next(
                    (f[1:].decode() for f in fields if f[:1] == b"M"), "error"
                )
            elif tag == b"Z":
                return rows, err, nbytes

    def query(self, sql: str) -> tuple[list[tuple], int]:
        payload = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(payload) + 4) + payload)
        rows, err, nbytes = self._until_ready()
        if err is not None:
            raise PgError(err)
        return rows, nbytes


class Client:
    """One closed-loop client: its table, its model and its seeded mix."""

    def __init__(self, idx: int, seed: int, agg_answers: dict[str, list[tuple]]):
        self.table = f"bench_c{idx}"
        self.rng = random.Random(f"client-{seed}-{idx}")
        self.model: dict[int, tuple[str, int]] = {}
        self.next_id = 0
        self.aggs = agg_answers
        self.agg_order = sorted(agg_answers)
        self.rng.shuffle(self.agg_order)
        self.n_batches = 0

    def setup_statements(self) -> list[str]:
        values = []
        for _ in range(INITIAL_ROWS):
            i, k, v = self._new_row()
            values.append(f"({i}, '{k}', {v})")
        return [
            f"CREATE TABLE {self.table} (id INT, k VARCHAR, v INT)",
            f"INSERT INTO {self.table} VALUES " + ", ".join(values),
        ]

    def _new_row(self) -> tuple[int, str, int]:
        i = self.next_id
        self.next_id += 1
        k, v = f"k{self.rng.randrange(10**6)}", self.rng.randrange(1000)
        self.model[i] = (k, v)
        return i, k, v

    def _some_id(self) -> int:
        # ids that exist are hit most of the time; misses are valid reads
        return self.rng.randrange(max(self.next_id, 1))

    def batch(self) -> list[tuple[str, str, object]]:
        """Ten (kind, sql, check) triples.  ``check`` is the expected row
        list for reads, None for writes.  The model is advanced as the
        statements are generated, so the batch must run in order."""
        kinds = list(BATCH_READS)
        kinds += ["insert", "update" if self.n_batches % 2 == 0 else "delete"]
        self.rng.shuffle(kinds)
        self.n_batches += 1
        return [getattr(self, f"_{kind}")() for kind in kinds]

    def _point(self):
        i = self._some_id()
        want = [(i, *self.model[i])] if i in self.model else []
        return "point", f"SELECT id, k, v FROM {self.table} WHERE id = {i}", want

    def _range(self):
        a = self._some_id()
        b = a + self.rng.randint(0, 16)
        want = [(i, self.model[i][1]) for i in sorted(self.model) if a <= i <= b]
        return (
            "range",
            f"SELECT id, v FROM {self.table} WHERE id BETWEEN {a} AND {b} ORDER BY id",
            want,
        )

    def _agg(self):
        # round-robin over the aggregate set, from a seeded order
        sql = self.agg_order.pop(0)
        self.agg_order.append(sql)
        return "agg", sql, self.aggs[sql]

    def _insert(self):
        i, k, v = self._new_row()
        return "insert", f"INSERT INTO {self.table} VALUES ({i}, '{k}', {v})", None

    def _update(self):
        a = self._some_id()
        b = a + self.rng.randint(0, 4)
        d = self.rng.randint(1, 9)
        for i in range(a, b + 1):
            if i in self.model:
                k, v = self.model[i]
                self.model[i] = (k, v + d)
        return (
            "update",
            f"UPDATE {self.table} SET v = v + {d} WHERE id BETWEEN {a} AND {b}",
            None,
        )

    def _delete(self):
        i = self._some_id()
        self.model.pop(i, None)
        return "delete", f"DELETE FROM {self.table} WHERE id = {i}", None
