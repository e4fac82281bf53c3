"""The TWS registry rows' fallback gate (``queries._tws_env_crash``):
a crash of the TWS state-protocol worker degrades to the batch plan,
a bug in this package's processors re-raises. Pinned against the
failure text the r18 correctness run recorded for
``streaming_tws_first_seen`` (CORRECTNESS_r18.json), which re-raised
and turned three rows red."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.errors import AnalysisException, PythonException, StreamingQueryException

from farmrpg_etl_spark.queries import _tws_env_crash

#: the ``err`` field of ``streaming_tws_first_seen`` in the r18 correctness
#: artifact, verbatim: the tail of a traceback through PySpark's own frames
R18_ERR = json.loads(
    (Path(__file__).resolve().parents[1] / "CORRECTNESS_r18.json").read_text()
)["streaming_tws_first_seen"]["err"]

TRACEBACK_HEAD = "Traceback (most recent call last):\n"
PROCESSOR_FRAME = (
    '  File "/srv/app/farmrpg_etl_spark/streaming/tws_ops.py", line 40, in handleInputRows\n'
    "    raise KeyError(key)\n"
)


def _chain(text: str) -> Exception:
    """A StreamingQueryException raised while handling a JVM error that
    carries ``text``, the shape PySpark's ``raise converted from None``
    leaves behind."""
    try:
        try:
            raise RuntimeError(text)
        except RuntimeError:
            raise StreamingQueryException(message="[STREAM_FAILED] query terminated")
    except StreamingQueryException as exc:
        return exc


def test_r18_worker_crash_with_pyspark_traceback_degrades():
    assert "driver worker exited unexpectedly" in R18_ERR
    assert _tws_env_crash(_chain(TRACEBACK_HEAD + R18_ERR))
    assert _tws_env_crash(StreamingQueryException(message=TRACEBACK_HEAD + R18_ERR))


def test_traceback_through_a_processor_reraises():
    assert not _tws_env_crash(_chain(TRACEBACK_HEAD + PROCESSOR_FRAME + R18_ERR))


def test_plan_and_python_errors_reraise():
    assert not _tws_env_crash(AnalysisException(message=R18_ERR))
    assert not _tws_env_crash(PythonException(message=R18_ERR))


def test_unknown_failure_reraises():
    assert not _tws_env_crash(_chain("[STREAM_FAILED] division by zero"))


def test_processor_frame_by_bare_file_name_reraises():
    bare = '  File "tws_ops.py", line 60, in handleInputRows\n'
    assert not _tws_env_crash(_chain(TRACEBACK_HEAD + bare + R18_ERR))
