from .arrow_extract import extract_arrow
from .extract import extract_staged, parse_blocks  # noqa: F401

# the Arrow-native path is the production default (see arrow_extract)
extract = extract_arrow
