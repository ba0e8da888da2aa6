from .crs import (
    lonlat_to_utm,
    lonlat_to_webmercator,
    utm_to_lonlat,
    webmercator_to_lonlat,
)
from .ndvi import (
    clamp,
    evi2,
    ndvi,
    savi,
    scale_reflectance,
    valid_dn_mask,
)
from .udtfs import ChunkSpans, register_udtfs
from .scene import (
    exclude_sensors,
    parse_scene_id,
    scene_columns_from_filename,
)

__all__ = [
    "lonlat_to_utm",
    "lonlat_to_webmercator",
    "utm_to_lonlat",
    "webmercator_to_lonlat",
    "evi2",
    "savi",
    "clamp",
    "ndvi",
    "scale_reflectance",
    "valid_dn_mask",
    "ChunkSpans",
    "register_udtfs",
    "exclude_sensors",
    "parse_scene_id",
    "scene_columns_from_filename",
]
