"""Media rows: the typed picture schema and its garbage collection.

The reference stores pictures out-of-band (qiniu bucket) with typed
metadata rows (`news_picture`, reetsee_news.sql:48-58; upload+retry
crawler.php:66-114; GC clearpic.php:38-77). Here the payload is a
first-class `binary` column, the serialized extension fields are a
`map<string,string>` column, and the GC is a row filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, abstract_id long, day_time int, kind string, "
    "payload binary, ext map<string,string>"
)


def gc_old_media(media: DataFrame, today_day: int, keep_days: int = 5) -> DataFrame:
    """The clearpic GC as a filter: keep rows newer than the cutoff
    (clearpic.php:38-77 deletes day_time <= today-5d). On Iceberg this
    is a row-level DELETE; on parquet it is rewrite-by-filter."""
    cutoff = today_day - keep_days
    return media.filter(F.col("day_time") > cutoff)
