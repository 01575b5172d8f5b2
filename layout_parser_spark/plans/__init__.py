from .extract import extract_main_text  # noqa: F401
from .reading_order import (  # noqa: F401
    reading_order_columnar,
    xy_cut_indices,
)
from .segment import segment_pages  # noqa: F401
