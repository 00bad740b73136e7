package responsive.spark.fs;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local file system with chmod and the symlink probe done in-process.
 *
 * <p>Without the native libhadoop, {@link RawLocalFileSystem} runs a {@code chmod}
 * child process for every file and directory it creates with a permission, and its
 * link-status lookup runs {@code readlink} for every path (with or without the
 * native library). FileContext makes that lookup on every rename. {@link Raw} does
 * both through {@code java.nio}; every other operation is the stock one, so files,
 * {@code .crc} sidecars and their modes come out the same.
 *
 * <p>This class is the checksummed {@code FileSystem} (register as
 * {@code fs.file.impl}); {@link Fs} is the checksummed {@code AbstractFileSystem}
 * behind FileContext (register as {@code fs.AbstractFileSystem.file.impl}).
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} without the chmod and readlink child processes. */
  public static class Raw extends RawLocalFileSystem {

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission); // sticky, setuid or setgid bits
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      PosixFilePermission[] bits = PosixFilePermission.values(); // OWNER_READ first
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(bits[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // the file the stock lookup hands to readlink
      if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** {@code RawLocalFs} over {@link Raw}: the same four overrides. */
  public static class RawFs extends DelegateToFileSystem {

    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, uri.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // no default port for file:///
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true; // as RawLocalFs: the OS validates local names
    }
  }

  /** {@code LocalFs} over {@link RawFs}, the checksummed FileContext file system. */
  public static class Fs extends ChecksumFs {

    Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(FsConstants.LOCAL_FS_URI, conf));
    }
  }
}
