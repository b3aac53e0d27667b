"""Commit markers and the one replay policy every foreachBatch sink uses.

foreachBatch is at-least-once: after a crash the same (batch, id) is
re-delivered, and a non-transactional sink that already applied it would
apply it twice. Each sink therefore runs its epoch through ``once``: a
per-epoch deterministic step plus a commit marker, the recovery model of
D-Streams. The contract:

- **Skip committed epochs.** The last applied epoch id lives in a tiny
  underscore-prefixed marker file next to the data (underscore ⇒ ignored
  by Hadoop input listings and Spark's file readers). An epoch at or below
  it is skipped, so a replay, and a stale epoch that would merge older
  rows over newer ones, changes nothing.
- **Commit the marker last.** The marker is written only after the step
  returns; a step that raises commits nothing, and the retry sees the same
  committed id. A crash between the step's writes and the marker re-runs
  the epoch: sinks whose step recomputes its output (a dirty-bucket
  overwrite, an ``epoch=N`` partition, a versioned slot) reproduce it
  exactly; an append re-appends that one epoch.
- **Versioned slots.** A sink whose step is INCREMENTAL (new state derived
  from the previous state) stages it to ``slot(root, epoch)`` and reads
  ``slot(root, last)``; the committed slot is never written, so a re-run
  derives the identical state from it. ``once(..., slots=root)`` deletes
  every other slot after the commit.

The marker goes through the Hadoop FileSystem API, not ``open()``: the
output path may be HDFS/S3A/local, and a driver-local ``open()`` on such a
path silently never finds the marker (guard dead) and fails the write. The
write is create-temp-then-rename. HDFS's rename refuses to clobber, so the
old marker is deleted first; the temp file is complete and closed by then,
and a read that finds no marker reads the temp file instead, so a crash
between the delete and the rename loses no commit. On S3A the rename
degrades to copy+delete, which never exposes a torn marker either.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, p, jvm


def read_text_marker(spark: SparkSession, path: str) -> str | None:
    """Text recorded at ``path``, or None if never written."""
    fs, p, jvm = _fs(spark, path)
    if not fs.exists(p):
        # a write that crashed between its delete and its rename
        p = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
        if not fs.exists(p):
            return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        ).strip()
    finally:
        stream.close()


def write_text_marker(spark: SparkSession, path: str, text: str) -> None:
    """Atomically record ``text`` at ``path`` (temp file + rename)."""
    fs, p, jvm = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)  # rename refuses to clobber on HDFS
    if not fs.rename(tmp, p):
        raise IOError(f"marker rename failed: {tmp} -> {p}")


def read_marker(spark: SparkSession, path: str) -> int | None:
    """Last committed id recorded at ``path``, or None if never written."""
    text = read_text_marker(spark, path)
    return int(text) if text else None


def write_marker(spark: SparkSession, path: str, value: int) -> None:
    """Atomically record ``value`` at ``path`` (temp file + rename)."""
    write_text_marker(spark, path, str(value))


def slot(root: str, epoch: int) -> str:
    """The versioned state slot of ``epoch`` under ``root``."""
    return f"{root}/__v={int(epoch)}"


def once(marker: str, step, slots: str | None = None):
    """The ``(df, epoch_id) -> None`` foreachBatch function that applies
    each epoch once: it skips an epoch at or below the id committed at
    ``marker``, otherwise runs ``step(df, epoch_id, last)`` (``last``: the
    committed id, None before the first commit) and commits ``epoch_id``
    after ``step`` returns. With ``slots``, every slot under it except the
    committed one is deleted after the commit (a crash there only leaves
    an orphan that the next epoch removes)."""

    def run(df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        last = read_marker(spark, marker)
        if last is not None and epoch_id <= last:
            return
        step(df, epoch_id, last)
        write_marker(spark, marker, epoch_id)
        if slots is None:
            return
        fs, root, _ = _fs(spark, slots)
        keep = f"__v={int(epoch_id)}"
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("__v=") and name != keep:
                fs.delete(st.getPath(), True)

    return run


def start(stream: DataFrame, fn, checkpoint: str):
    """Run ``fn`` as the foreachBatch sink of ``stream`` with an
    availableNow trigger (drain the backlog, then stop); returns the
    started StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
