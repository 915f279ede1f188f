from .pages import read_pages  # noqa: F401
