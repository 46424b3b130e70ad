"""Session artifacts: the one store for what a query builds once and
later queries of the same Spark application reuse.

Two shapes of reuse share it:

- `get_or_build(spark, kind, key, build, src=None)` returns the entry
  for (kind, key), calling `build()` on a miss. Trained tokenizers and
  codebooks and small persisted route results are entries of this
  kind.
- `hold(spark, kind, df)` persists `df` as the one live frame of
  `kind`. A query whose lazy result reads a persisted frame cannot
  release it itself, so the next call of the same query does.

`evict(spark, kind, key=...)` releases one entry, or every entry of a
kind when no key is given.

The rules, kept here and nowhere else:

- Entries belong to one application. When `applicationId` changes,
  every entry is dropped without being released: the old session's
  frames cannot be used, or unpersisted, from the new one.
- An entry built with `src` (a data directory or file) records
  `tables._sf_fingerprint(src)`. A later call naming the same `src`
  under a different fingerprint first releases every entry built from
  it, of any kind, so data rewritten in place is never answered from
  what was built over the old files.
- Releasing an entry unpersists it if it is a DataFrame (anything with
  `unpersist`); other values are just dropped.
- `hold` releases the old frame BEFORE it persists the new one. Two
  calls of one query build frames with the same plan, and Spark's
  CacheManager looks cached data up by plan: unpersisting the old
  frame after persisting the new one would drop the cache entry both
  share, and every later job would recompute the frame.

The store has no lock: every caller runs on the driver's main thread.
"""

from __future__ import annotations

from data_framework_spark.sources.tables import _sf_fingerprint

# (kind, key) -> (value, src, fingerprint of src) for the live
# application; `_app` names it
_entries: dict[tuple, tuple] = {}
_app: str | None = None

_ALL = object()


def _live(spark) -> dict[tuple, tuple]:
    global _app
    app = spark.sparkContext.applicationId
    if app != _app:
        _entries.clear()
        _app = app
    return _entries


def _release(value) -> None:
    if hasattr(value, "unpersist"):
        value.unpersist()


def get_or_build(spark, kind: str, key, build, src: str | None = None):
    """The entry for (kind, key), built by `build()` on a miss. With
    `src`, the entry is released once `src`'s fingerprint changes."""
    entries = _live(spark)
    fp = None
    if src is not None:
        fp = _sf_fingerprint(src)
        for k in [k for k, e in entries.items() if e[1] == src and e[2] != fp]:
            _release(entries.pop(k)[0])
    hit = entries.get((kind, key))
    if hit is not None:
        return hit[0]
    value = build()
    entries[(kind, key)] = (value, src, fp)
    return value


def hold(spark, kind: str, df):
    """Release the frame held for `kind`, then persist and hold `df`."""
    evict(spark, kind)
    df = df.persist()
    _live(spark)[(kind, None)] = (df, None, None)
    return df


def evict(spark, kind: str, key=_ALL) -> None:
    """Release the entry (kind, key), or every entry of `kind`. An
    absent entry is not an error."""
    entries = _live(spark)
    for k in [k for k in entries if k[0] == kind]:
        if key is _ALL or k[1] == key:
            _release(entries.pop(k)[0])
