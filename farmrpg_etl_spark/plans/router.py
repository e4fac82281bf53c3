"""Dotted-prefix topic router — the reference's asyncio event hub
(events.py:13-50) re-expressed for a Spark driver program.

The reference dispatches ``emit("chat.help", ...)`` to every listener
registered under ``"chat.help"`` AND under the prefix ``"chat"``
(events.py:17-25 walks the dotted key from most specific to least),
so a sink subscribes once to a family of topics. Here the same
contract wires DataFrame batches to sink writers: pipelines ``emit``
a parsed/enriched batch under ``"{source}.{key}"`` and registered
writers fire in most-specific-first registration order. Handlers run
SEQUENTIALLY on the driver (the reference's ``asyncio.create_task``
concurrency is about interleaving socket waits; a Spark driver's
handlers each launch their own distributed jobs, and ordering them
keeps sink commits deterministic — K1 before K4 is load-bearing for
the replay guards).

The reference parses and diffs a poll once, then hands the result to
every listener. A DataFrame is a plan, not a result: each handler's
action would re-run it (for E1 that is the parse and the CDC state
operator). So a DataFrame dispatched to more than one handler is
cached for the duration of the dispatch and released afterwards, also
when a handler raises; a single handler reads its frame uncached.

Adding a new sink = one ``router.on("chat", fn)`` registration; no
pipeline function edits — the extension seam SURVEY §2.9 asks for.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def cached(*frames: DataFrame) -> Iterator[None]:
    """Persist ``frames`` for the block, so every action inside it
    reads one materialisation; unpersist them on exit. Frames the
    caller already persisted are left to the caller."""
    mine = [df for df in frames if not df.is_cached]
    for df in mine:
        df.persist()
    try:
        yield
    finally:
        for df in mine:
            df.unpersist()


class TopicRouter:
    """Prefix-dispatch registry: ``on("chat")`` receives ``chat.help``."""

    def __init__(self) -> None:
        self._handlers: dict[str, list[Callable]] = defaultdict(list)

    def on(self, key_pattern: str, fn: Callable | None = None):
        """Register ``fn`` under ``key_pattern``; usable directly or as
        a decorator, mirroring the reference overloads (events.py:27-46)."""
        if fn is None:

            def decorator(f: Callable) -> Callable:
                self._handlers[key_pattern].append(f)
                return f

            return decorator
        self._handlers[key_pattern].append(fn)
        return None

    def emit(self, key: str, *args, **kwargs) -> bool:
        """Fire every handler whose pattern is ``key`` or a dotted
        prefix of it, most specific first. Returns whether any handler
        matched (the reference logs unhandled topics; callers here can
        assert on it)."""
        parts = key.split(".")
        handlers = [
            handler
            for i in range(len(parts), 0, -1)
            for handler in self._handlers.get(".".join(parts[:i]), ())
        ]
        shared = [
            a for a in (*args, *kwargs.values()) if isinstance(a, DataFrame)
        ] if len(handlers) > 1 else []
        with cached(*shared):
            for handler in handlers:
                handler(*args, **kwargs)
        return bool(handlers)
