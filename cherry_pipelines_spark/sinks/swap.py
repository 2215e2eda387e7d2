"""Crash-safe directory swap: replace a live directory with a freshly
written one through two renames on the Hadoop FileSystem API (local fs,
HDFS, S3A — wherever the table lives).

For a live dir ``P`` and a caller's ``tag``:

1. write the new contents into ``P._<tag>_tmp`` (or any staging dir);
2. rename ``P`` → ``P._<tag>_old``;
3. rename the new contents → ``P``;
4. delete ``P._<tag>_old``.

A crash leaves the old layout, a stale temp dir, ``P`` missing beside an
intact ``old`` (between 2 and 3), or the new layout — never a
half-written ``P``.  :meth:`DirSwap.recover` heals each of those states
by rolling BACK: the interrupted writer never returned, so its caller
re-runs it (rolling the temp forward could apply a batch twice).

One writer per live dir: ``recover`` deletes the temp dir, so it must
not run while another writer fills it.  Readers see one layout or the
other on filesystems with atomic rename (local, HDFS); on S3 schedule
swaps against a quiescent table.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def fs_for(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, hpath


class DirSwap:
    """The ``._<tag>_tmp`` / ``._<tag>_old`` names of one live dir and
    the two-rename commit that replaces it."""

    def __init__(self, spark: SparkSession, live: str, tag: str) -> None:
        jvm, self._fs, self._live = fs_for(spark, live)
        self._Path = jvm.org.apache.hadoop.fs.Path
        self.live = live
        self.tmp = f"{live}._{tag}_tmp"
        self.old = f"{live}._{tag}_old"

    @staticmethod
    def live_name(name: str, tag: str) -> str | None:
        """The live dir name behind a ``._<tag>_tmp`` or ``._<tag>_old``
        name; None for any other name."""
        for suffix in (f"._{tag}_tmp", f"._{tag}_old"):
            if name.endswith(suffix):
                return name[: -len(suffix)]
        return None

    def recover(self) -> bool:
        """Roll back an interrupted swap: restore ``old`` when the live
        dir is missing, then drop any leftover ``old`` and temp dir.
        Returns whether the live dir exists."""
        fs, live, old = self._fs, self._live, self._Path(self.old)
        if not fs.exists(live) and fs.exists(old) and not fs.rename(old, live):
            raise IOError(f"could not restore {self.old} to {self.live}")
        for stale in (old, self._Path(self.tmp)):
            if fs.exists(stale):
                fs.delete(stale, True)
        return bool(fs.exists(live))

    def commit(self, new: str | None = None) -> None:
        """Swap ``new`` (default: the temp dir) in as the live dir.  Call
        after :meth:`recover`, so no ``old`` is in the way.  A swap-in
        rename that fails or raises rolls back to the previous layout,
        then raises."""
        fs, live, old = self._fs, self._live, self._Path(self.old)
        had_live = fs.exists(live)
        if had_live and not fs.rename(live, old):
            raise IOError(f"swap-out failed for {self.live}")
        swapped = False
        try:
            swapped = fs.rename(self._Path(new or self.tmp), live)
        finally:
            if not swapped and had_live and not fs.rename(old, live):
                raise IOError(
                    f"swap-in and roll-back failed for {self.live}; "
                    "recover() restores it"
                )
        if not swapped:
            raise IOError(f"swap-in failed for {self.live}")
        if had_live:
            fs.delete(old, True)
