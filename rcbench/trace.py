"""Spans around calls into the engine's public functions.

The tracer patches module attributes and methods for the traced run
only and restores them afterwards; nothing under ``raft_c_spark/``
changes. A span records its name, start, end, parent and the id of the
root span of its request or query, which every span of that request
shares. Self time is a span's duration minus the part of it that its
children cover.

A request's spans cross threads: the root is opened by the client
thread, the engine spans run on the wire server's handler thread and
the result pump runs on a thread of its own. The client's local port
links the handler thread to the root (``bind_conn``); the result
frame's identity links the pump thread (``bind_df``).
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    root: int
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._ids = itertools.count(1)
        self._conn_root: dict[int, int] = {}
        self._df_root: dict[int, int] = {}
        self._undo: list[tuple[object, str, object]] = []
        #: root id → the frame its request's Engine.execute returned
        self.dfs: dict[int, object] = {}
        #: Spark job group → the kind of operation it ran for
        self.groups: dict[str, str] = {}
        #: traced operations the groups belong to
        self.n_ops = 0

    # -- span stack -----------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def current(self) -> tuple[int, int] | None:
        """(root id, parent span id) for a span opened now, or None
        when this thread works for no traced root."""
        st = self._stack()
        if st:
            return st[-1].root, st[-1].sid
        root = self._conn_root.get(getattr(self._tl, "conn", None))
        if root is None:
            root = getattr(self._tl, "root", None)
        return (root, root) if root is not None else None

    @contextmanager
    def root(self, name: str):
        """Open a root span on this thread; yields its id."""
        sp = Span(0, next(self._ids), None, name, 0.0)
        sp.root = sp.sid
        self._stack().append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp.sid
        finally:
            sp.t1 = time.perf_counter()
            self._stack().pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def span(self, name: str):
        cur = self.current()
        if cur is None:
            yield
            return
        sp = Span(cur[0], next(self._ids), cur[1], name, time.perf_counter())
        self._stack().append(sp)
        try:
            yield
        finally:
            sp.t1 = time.perf_counter()
            self._stack().pop()
            with self._lock:
                self.spans.append(sp)

    # -- cross-thread links ---------------------------------------------

    def bind_conn(self, port: int, root: int | None) -> None:
        """Requests on the connection from client ``port`` now belong
        to ``root`` (None: untraced)."""
        if root is None:
            self._conn_root.pop(port, None)
        else:
            self._conn_root[port] = root

    def set_conn(self, port: int) -> None:
        """Mark this thread as the server thread of connection ``port``."""
        self._tl.conn = port

    def on_server(self) -> bool:
        """Whether this thread serves a client connection."""
        return getattr(self._tl, "conn", None) is not None

    def bind_df(self, df) -> None:
        cur = self.current()
        if cur is not None:
            self._df_root[id(df)] = cur[0]

    def adopt_df(self, df) -> int | None:
        """Make this thread work for the root that ``bind_df`` tied
        ``df`` to; returns that root."""
        root = self._df_root.pop(id(df), None)
        self._tl.root = root
        return root

    # -- patching -------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a function that runs the original
        inside a span named ``name`` and counts the calls."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            self.counts[name] += 1
            with self.span(name):
                return orig(*a, **kw)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, fn) -> None:
        # the raw attribute, so a method comes back as a plain function
        self._undo.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, fn)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def count(self, name: str) -> None:
        self.counts[name] += 1


def self_times(spans: list[Span]) -> dict[int, dict[str, float]]:
    """root id → {span name: summed self seconds} over that root's
    tree. Children are clipped to their parent's interval, so the self
    times of one tree sum to the root's duration exactly when no two
    siblings overlap; ``check_sums`` verifies that."""
    by_root: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        by_root[s.root].append(s)
    out: dict[int, dict[str, float]] = {}
    for root, group in by_root.items():
        kids: dict[int | None, list[Span]] = defaultdict(list)
        for s in group:
            kids[s.parent].append(s)
        acc: dict[str, float] = defaultdict(float)
        top = [s for s in group if s.sid == root]
        if not top:
            continue  # root span never closed: request still in flight
        stack = [(top[0], top[0].t0, top[0].t1)]
        while stack:
            s, lo, hi = stack.pop()
            covered = 0.0
            for c in kids.get(s.sid, []):
                clo, chi = max(c.t0, lo), min(c.t1, hi)
                if chi > clo:
                    covered += chi - clo
                    stack.append((c, clo, chi))
            acc[s.name] += (hi - lo) - covered
        out[root] = dict(acc)
    return out


def check_sums(spans: list[Span], selfs: dict[int, dict[str, float]]) -> float:
    """Largest |sum of self times − root wall time| over all roots, in
    seconds."""
    worst = 0.0
    for s in spans:
        if s.sid == s.root and s.root in selfs:
            worst = max(worst, abs(sum(selfs[s.root].values()) - (s.t1 - s.t0)))
    return worst
