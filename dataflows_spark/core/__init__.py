from . import zipcache  # noqa: F401 — patches zipimport in every process that imports the package
from .context import Context, build_session, ensure_shipped
from .errors import ProcessorError
from .flow import DataFrameStage, Flow, FuncStage, IterableStage, Stage
from .materialize import eager_cache, eager_local_checkpoint, free_blocks, release_materialized
from .package import TablePackage

__all__ = [
    "Context",
    "DataFrameStage",
    "Flow",
    "FuncStage",
    "IterableStage",
    "ProcessorError",
    "Stage",
    "TablePackage",
    "build_session",
    "eager_cache",
    "eager_local_checkpoint",
    "ensure_shipped",
    "free_blocks",
    "release_materialized",
]
