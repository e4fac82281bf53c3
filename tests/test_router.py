"""Prefix-dispatch semantics of the topic router, pinned against the
reference event hub (events.py:17-25): a ``chat.help`` emission fires
``chat.help`` listeners AND ``chat`` listeners, most specific first;
unhandled topics report False."""

from __future__ import annotations

from farmrpg_etl_spark.plans.router import TopicRouter


def test_prefix_dispatch_most_specific_first():
    r = TopicRouter()
    calls: list[str] = []
    r.on("chat", lambda *a: calls.append("chat-1"))
    r.on("chat", lambda *a: calls.append("chat-2"))
    r.on("chat.help", lambda *a: calls.append("chat.help"))
    r.on("flags", lambda *a: calls.append("flags"))

    assert r.emit("chat.help") is True
    # exact topic first, then the prefix listeners in registration order
    assert calls == ["chat.help", "chat-1", "chat-2"]

    calls.clear()
    assert r.emit("chat.trade") is True   # only the prefix matches
    assert calls == ["chat-1", "chat-2"]

    calls.clear()
    assert r.emit("chat") is True         # bare prefix fires directly
    assert calls == ["chat-1", "chat-2"]

    assert r.emit("mailbox.inbox") is False  # nothing registered
    assert r.emit("chat2.help") is False     # prefix is dotted, not textual


def test_decorator_registration_and_args():
    r = TopicRouter()
    seen = []

    @r.on("users")
    def handler(df, batch_id):
        seen.append((df, batch_id))

    assert r.emit("users.profile", "BATCH", batch_id=7) is True
    assert seen == [("BATCH", 7)]


def _in_cache(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_fanout_caches_the_shared_frame_for_the_dispatch(spark):
    r = TopicRouter()
    df = spark.range(5)
    seen = []
    for _ in range(2):
        r.on("chat", lambda d, b: seen.append((_in_cache(d), d.count())))
    assert r.emit("chat.help", df, 0) is True
    assert seen == [(True, 5), (True, 5)]
    assert not _in_cache(df)  # released after the last handler


def test_fanout_releases_the_frame_when_a_handler_raises(spark):
    import pytest

    r = TopicRouter()
    df = spark.range(5)
    r.on("chat", lambda d, b: d.count())

    @r.on("chat")
    def broken(d, b):
        raise RuntimeError("sink failed")

    with pytest.raises(RuntimeError, match="sink failed"):
        r.emit("chat.help", df, 0)
    assert not _in_cache(df)


def test_single_handler_frame_is_not_cached(spark):
    r = TopicRouter()
    df = spark.range(5)
    seen = []
    r.on("flags", lambda d, b: seen.append(_in_cache(d)))
    r.emit("flags.help", df, 0)
    assert seen == [False]


def test_fanout_leaves_a_caller_cached_frame_cached(spark):
    r = TopicRouter()
    df = spark.range(5).persist()
    try:
        r.on("chat", lambda d: d.count())
        r.on("chat", lambda d: d.count())
        r.emit("chat", df)
        assert _in_cache(df)
    finally:
        df.unpersist()
