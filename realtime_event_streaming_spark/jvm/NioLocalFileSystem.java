package rtes.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed local {@code FileSystem} ({@code fs.file.impl}). */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
