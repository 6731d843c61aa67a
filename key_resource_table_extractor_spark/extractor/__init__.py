from .pipeline import (  # noqa: F401
    ExtractOptions,
    extract_nested_batch,
    extract_pandas_batch,
    make_map_in_arrow_fn,
)
