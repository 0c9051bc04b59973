"""Planning helpers: bbox pruning rewrite + clustered storage (R-tree analog)."""

from .pruning import (  # noqa: F401
    filter_bbox,
    geo_parquet_stats,
    hilbert_cluster,
    scan_geo_parquet,
    write_geo_parquet,
)
from .snapshot import (  # noqa: F401
    append_geo_snapshot,
    compact_geo_snapshot,
    read_geo_snapshot,
    snapshot_version,
    vacuum_geo_snapshot,
    write_geo_snapshot,
)
