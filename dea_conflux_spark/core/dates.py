"""Date serialisation parity with the reference's filename/metadata
format ``%Y%m%d-%H%M%S-%f`` (reference io.py:31-77)."""

from __future__ import annotations

import datetime as dt

FMT = "%Y%m%d-%H%M%S-%f"


def date_to_string(d: dt.datetime) -> str:
    return d.strftime(FMT)


def string_to_date(s: str) -> dt.datetime:
    return dt.datetime.strptime(s, FMT)


def day_prefix(iso: str) -> str:
    """The DAY key used by stacking dedup (reference stack.py:190-192)."""
    return iso.split("T")[0]


def scene_pq_name(drill_name: str, uuid: str, centre: dt.datetime) -> str:
    """Reference scene-parquet naming: ``{drill}_{uuid}_{datestr}.pq`` in a
    ``YYYYMMDD/`` folder (reference io.py:80-100,130-137)."""
    return f"{centre:%Y%m%d}/{drill_name}_{uuid}_{date_to_string(centre)}.pq"
