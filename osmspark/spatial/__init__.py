from .knn import knn_broadcast, knn_join
from .geometry import (
    EARTH_RADIUS_M,
    assemble_from_exploded_refs,
    assemble_relation_geometries,
    assemble_way_geometries,
    assemble_way_geometries_bucketed,
    explode_relation_members,
    explode_way_refs,
    register_way_join_tables,
    with_ring_area,
    with_way_centroid,
    with_way_length_deg,
    with_way_length_m,
    write_way_join_bucketed,
)
from .layout import dequantize_points, quantize_points
from .pip import pip_join, pip_join_bbox, polygon_cover_cells, ray_cast_contains
from .dwithin import dwithin_join, dwithin_meters_join
from .ripley import ripleys_k
from .trajsim import hausdorff_pairs
from .staypoints import detect_staypoints
from .geofence import geofence_transitions
from .interp import idw_grid
from .mapalgebra import raster_algebra
from .intersect import segment_intersect_join
from .mapmatch import explode_segments, nearest_segment_join
from .polygon import polygon_metrics
from .polyfill import polyfill_raster
from .tiles import (
    kring_smooth,
    raster_tile_counts,
    rollup,
    tile_counts,
    tile_mode,
    tile_pyramid,
    with_hex_cell,
    with_quadkey,
    with_s2_cell,
)
