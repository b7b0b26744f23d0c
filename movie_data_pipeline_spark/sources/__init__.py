from movie_data_pipeline_spark.sources.registry import (  # noqa: F401
    TESTDATA_TABLES,
    load_table,
    table_path,
)
from movie_data_pipeline_spark.sources.versioned import (  # noqa: F401
    CommitConflict,
    VersionedTable,
)
