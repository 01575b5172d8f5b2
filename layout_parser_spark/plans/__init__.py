from .extract import extract_main_text  # noqa: F401
from .reading_order import xy_cut_indices  # noqa: F401
from .segment import segment_pages  # noqa: F401
