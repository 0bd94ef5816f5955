from .rest import RestPagesDataSource, register_rest_source  # noqa: F401
