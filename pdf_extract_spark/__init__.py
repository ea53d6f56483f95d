import sys

if sys.version_info < (3, 13):
    from . import zipcache

    zipcache.install()
