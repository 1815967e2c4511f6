"""Kahn's algorithm over a dependency map, shared by the datamart runner's
ref DAG (plans/runner.py) and the asset graph (plans/orchestration.py).

:class:`ReadyQueue` hands out nodes whose dependencies are all done, one
completion at a time — the shape a concurrent executor needs.
:func:`kahn_order` drains it wave by wave into a deterministic
topological order.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping


class ReadyQueue:
    """Nodes become ready once every dependency named for them is marked
    :meth:`done`. A dependency that is not itself a node never completes,
    so its dependents never become ready (callers report them as a cycle
    or a missing dependency). Ready nodes come out in the map's insertion
    order."""

    def __init__(self, deps: Mapping[str, Iterable[str]]):
        self._rank = {n: i for i, n in enumerate(deps)}
        self._waiting = {n: set(ds) for n, ds in deps.items()}
        self._dependents: dict[str, list[str]] = {}
        for n, ds in self._waiting.items():
            for d in ds:
                self._dependents.setdefault(d, []).append(n)
        self._ready = [n for n, ds in self._waiting.items() if not ds]

    def pop_ready(self, limit: int | None = None) -> list[str]:
        """Take up to ``limit`` ready nodes (all of them by default),
        earliest-declared first."""
        self._ready.sort(key=self._rank.__getitem__)
        n = len(self._ready) if limit is None else limit
        taken, self._ready = self._ready[:n], self._ready[n:]
        return taken

    def done(self, node: str) -> None:
        """Mark ``node`` built; its dependents whose last dependency it was
        become ready."""
        for n in self._dependents.pop(node, ()):
            waiting = self._waiting[n]
            waiting.discard(node)
            if not waiting:
                self._ready.append(n)


def kahn_order(deps: Mapping[str, Iterable[str]], stuck: str) -> list[str]:
    """Topological order of ``deps``' nodes: each wave is every node whose
    dependencies are all in earlier waves, in insertion order. Raises
    ``ValueError("<stuck> among: [...]")`` naming the nodes that can never
    become ready."""
    queue = ReadyQueue(deps)
    order: list[str] = []
    while len(order) < len(deps):
        wave = queue.pop_ready()
        if not wave:
            raise ValueError(f"{stuck} among: {sorted(set(deps) - set(order))}")
        for n in wave:
            queue.done(n)
        order += wave
    return order
