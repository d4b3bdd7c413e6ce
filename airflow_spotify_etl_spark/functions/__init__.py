from .datetime_fns import lenient_to_date, iso_date_prefix
from .strings import duration_mmss, url_encode_col

__all__ = [
    "lenient_to_date",
    "iso_date_prefix",
    "duration_mmss",
    "url_encode_col",
]
